package graft.flow

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.FlowFrame
import graft.ops._
import graft.el.ElCompiler
import graft.sources.Sinks

/**
 * Flow assembly: a parsed [[FlowDef]] → one DataFrame per processor output,
 * wired along connections — SURVEY §3.1/§3.2 (FlowController schedule →
 * onTrigger loop). The batch interpretation is ONE full sweep: every source
 * emits its current batch, every edge forwards it, every processor output
 * is a lazily-composed DataFrame — Catalyst sees the whole flow as a
 * single plan per terminal edge, so routing filters push down across
 * processor boundaries (something the reference's queue-per-connection
 * runtime cannot do). Scheduling strategies/periods map to Structured
 * Streaming triggers in streaming mode (streaming/FlowRuntime.trigger) and
 * are no-ops in a batch sweep.
 *
 * Cycles (retry loops, e.g. InvokeHTTP -> RetryFlowFile -> InvokeHTTP in
 * examples/http_post_config.yml) cannot exist in one batch sweep: back
 * edges found during the topological walk are dropped and reported in
 * [[FlowResult.droppedEdges]] — the relaxed batch semantic of a queue
 * that will be drained on the NEXT trigger (SURVEY §7.5.1 penalty/retry
 * relaxation).
 */
object FlowRunner {

  /** Outputs of one batch sweep. `outputs` holds each processor's routed
    * frame (relationship column populated); `edge` filters one
    * relationship; unconnected + non-auto-terminated edges are the flow's
    * terminal results. */
  case class FlowResult(flow: FlowDef, outputs: Map[String, DataFrame],
                        droppedEdges: Seq[ConnectionDef],
                        persisted: Seq[DataFrame] = Nil) {
    def output(procIdOrName: String): DataFrame =
      outputs(flow.processor(procIdOrName).id)
    def edge(procIdOrName: String, relationship: String): DataFrame =
      output(procIdOrName).filter(col(FlowFrame.Relationship) === relationship)
    /** Release the fan-out caches created by [[run]], the sweep's only
      * caches: they exist so one sweep materializes each shared stage
      * once; a driver running many flows in one session would accumulate
      * MEMORY_AND_DISK blocks until the session dies. Call once the
      * outputs have been consumed (written/collected). */
    def release(): Unit = persisted.foreach(_.unpersist(blocking = false))
  }

  def run(spark: SparkSession, flow: FlowDef,
          variables: Map[String, String] = Map.empty): FlowResult = {
    // the variable registry backs ${'name'} refs for attributes that do
    // not exist on the FlowFile (minifi.properties plane); the binding is
    // thread-local and scoped to this plan build, so concurrent flow
    // builds don't race and nothing leaks to EL compiled outside a run —
    // the compiled plans embed the values as literals
    graft.el.ElCompiler.withVariables(variables) {
    // a processor output consumed by 2+ connections would otherwise be
    // recomputed once per downstream plan (separate DataFrame actions share
    // no scans — the FlowFrame.routed N-scan trap); persist those nodes so
    // the sweep materializes each shared stage once. At cluster scale this
    // is the standard persist-the-fan-out-point pattern. Processors read
    // their input in one pass and persist nothing themselves.
    val fanOut =
      flow.connections.groupBy(_.sourceId).filter(_._2.size > 1).keySet
    val persisted = collection.mutable.ArrayBuffer[DataFrame]()
    val walked = walk(flow) { (p, input) =>
      val out =
        try Processors.apply(spark, p, input, flow.services)
        catch {
          case _: Processors.NoInputException =>
            // never scheduled this sweep (no live upstream — e.g. its only
            // connection failed group-scoped resolution)
            Processors.emptyFlowFrame(spark)
        }
      if (!fanOut(p.id)) out
      else {
        val cached =
          out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted += cached
        cached
      }
    }
    FlowResult(flow, walked.outputs, walked.dropped, persisted.toSeq)
    }
  }

  /** One walk of a flow: each processor's routed output, and the back
    * edges dropped to break cycles. */
  private[flow] case class Walk(outputs: Map[String, DataFrame],
                                dropped: Seq[ConnectionDef])

  /**
   * The one DAG walk both interpretations run — the batch sweep ([[run]])
   * and the streaming assembly (FlowStreaming.assemble) — so a connection
   * behaves the same under every scheduling strategy, as the reference's
   * one Connection class does (Connection.cpp:98-158). `hook` builds one
   * processor's output from its wired input (None when no live edge feeds
   * it); the walk owns everything between processors: relationship
   * selection, queue TTL, drop-empty and CLONE lineage.
   */
  private[flow] def walk(flow: FlowDef)(
      hook: (ProcessorDef, Option[DataFrame]) => DataFrame): Walk = {
    val incoming = flow.connections.groupBy(_.destinationId)
    // Kahn's algorithm with cycle breaking: schedule any processor whose
    // live incoming edges all come from computed processors; when none is
    // ready (a cycle), drop the FIRST-DECLARED blocked processor's edges
    // from uncomputed sources. Declaration order puts sources first, so a
    // retry loop breaks at its loop-back edge (the queue drained next
    // trigger), not at the forward edge.
    val procIds = flow.processors.map(_.id)
    val order = collection.mutable.ArrayBuffer[String]()
    val computed = collection.mutable.Set[String]()
    val dropped = collection.mutable.ArrayBuffer[ConnectionDef]()
    while (computed.size < procIds.size) {
      procIds.find(id => !computed(id) &&
        incoming.getOrElse(id, Nil).filterNot(dropped.contains)
          .forall(c => computed(c.sourceId))) match {
        case Some(id) => order += id; computed += id
        case None =>
          val blocked = procIds.find(!computed(_)).get
          incoming.getOrElse(blocked, Nil).filterNot(dropped.contains)
            .filterNot(c => computed(c.sourceId))
            .foreach(dropped += _)
      }
    }
    val live = flow.connections.filterNot(dropped.contains)
    val outputs = collection.mutable.Map[String, DataFrame]()
    order.foreach { id =>
      val ins = live.filter(_.destinationId == id).map { c =>
        val up = outputs(c.sourceId)
        val selected =
          if (c.relationships.isEmpty) up
          else up.filter(col(FlowFrame.Relationship).isin(c.relationships: _*))
        // queue TTL at the receiving end (Connection.cpp:153-158)
        val alive0 = c.expirationMs match {
          case Some(ms) => selected.filter(
            unix_millis(FlowFrame.entryTime) -
              unix_millis(col(FlowFrame.EntryDate)) <= ms)
          case None => selected
        }
        // "drop empty": zero-size FlowFiles never enqueue
        // (Connection.cpp:98,124)
        val alive =
          if (!c.dropEmpty) alive0
          else alive0.filter(coalesce(
            length(col(FlowFrame.Content).cast("binary")), lit(0)) > 0)
        val base = alive.withColumn(FlowFrame.Relationship, lit(null: String))
        // CLONE lineage (Provenance.h CLONE): a relationship feeding 2+
        // connections duplicates the FlowFile per queue (ProcessSession
        // clone on multi-connection routing). Distinct relationships on
        // separate edges are routing, not cloning. Each clone gets a
        // deterministic child uuid and its parent recorded; the event attrs
        // are stamped BEFORE the uuid swap so parents reference the
        // original.
        def overlap(o: ConnectionDef): Boolean =
          o.relationships.isEmpty || c.relationships.isEmpty ||
            o.relationships.exists(c.relationships.contains)
        val isClone = live.exists(o =>
          o.sourceId == c.sourceId && o.id != c.id && overlap(o))
        if (!isClone) base else Lineage.stampClone(base, c.id)
      }
      outputs(id) = hook(flow.processor(id), ins.reduceOption(_ unionByName _))
    }
    Walk(outputs.toMap, dropped.toSeq)
  }
}

/**
 * Processor-class dispatch: reference property names → the graft operator
 * surface. Dynamic properties (rules, attribute templates, regex captures)
 * are every Properties key that is not one of the class's static property
 * names, as in the reference's DynamicProperty support.
 */
object Processors {

  /** Scratch attribute carrying a per-row composite-EL evaluation through
    * an attribute-keyed operator (Document Id / Target node ID); stripped
    * from the operator's output by [[dropScratchAttr]]. */
  private val ElScratchAttr = "__graft.el.scratch"

  /** `sql.args.N.value` attributes in positional order (SQLProcessor
    * argument collection — soci positional binds). */
  private val SqlArgRe = """sql\.args\.(\d+)\.value""".r
  private def sqlArgs(attrs: scala.collection.Map[String, String]): Seq[String] =
    attrs.toSeq.flatMap {
      case (SqlArgRe(n), v) => Some((n.toInt, v))
      case _ => None
    }.sortBy(_._1).map(_._2)

  private def dropScratchAttr(df: DataFrame, used: Boolean): DataFrame =
    if (!used) df
    else df.withColumn(FlowFrame.Attributes,
      map_filter(col(FlowFrame.Attributes), (k, _) => k =!= ElScratchAttr))

  /** Rebuild the FlowFrame shape from a splitter's fragment output
    * (SplitText.h:152-156 fragment attr convention). Every fragment starts
    * from its parent's attributes — the splitter ran with
    * `carry = Seq(FlowFrame.Attributes)` — like the reference's
    * `ProcessSession::create(parent)`, and the fragment attributes (plus
    * `extraAttrs`, attribute name -> fragment column) override them.
    * Fragments carry a FORK lineage event from their parent
    * (Provenance.h FORK) and a deterministic child uuid (see [[Lineage]]).
    * `passthrough` rows are the parent routed whole (uuid, attributes,
    * content and entry date — then carried too). */
  private def fragmentFrame(frags: DataFrame, idxCol: String,
                            fragCol: String, countCol: Option[String],
                            relationship: Column = lit("splits"),
                            extraAttrs: Seq[(String, String)] = Nil,
                            passthrough: Option[Column] = None): DataFrame = {
    val parent = col("`fragment.identifier`").cast("string")
    val own = Seq(
      FlowFrame.FragmentAttrs.Identifier -> parent,
      FlowFrame.FragmentAttrs.Index -> col(idxCol),
      Lineage.EventAttr -> lit(Lineage.Fork),
      Lineage.ParentsAttr -> parent) ++
      countCol.map(c => FlowFrame.FragmentAttrs.Count -> col(c)) ++
      extraAttrs.map { case (attr, c) => attr -> col(c) }
    def pick(ofParent: Column, ofFragment: Column): Column =
      passthrough.fold(ofFragment)(when(_, ofParent).otherwise(ofFragment))
    frags.select(
      pick(parent, Lineage.fragmentUuid(parent, col(idxCol)))
        .as(FlowFrame.Uuid),
      pick(col(FlowFrame.Attributes), FlowFrame.attrsWith(own))
        .as(FlowFrame.Attributes),
      pick(col(FlowFrame.Content).cast("string"), col(fragCol))
        .as(FlowFrame.Content),
      pick(col(FlowFrame.EntryDate), FlowFrame.entryTime)
        .as(FlowFrame.EntryDate),
      relationship.as(FlowFrame.Relationship))
  }

  /** An INPUT_REQUIRED processor invoked with no upstream. Direct callers
    * see it as a config error; a flow sweep treats it as "never scheduled"
    * (the reference's isWorkAvailable gate — such a processor simply does
    * not fire, e.g. one whose only incoming connection failed group-scoped
    * resolution). */
  final class NoInputException(msg: String)
      extends IllegalArgumentException(msg)

  /** Zero-row frame in the canonical FlowFrame shape (wrap's schema). */
  private[flow] def emptyFlowFrame(spark: SparkSession): DataFrame =
    spark.range(0).select(
      lit("").as(FlowFrame.Uuid),
      map().cast("map<string,string>").as(FlowFrame.Attributes),
      lit("").as(FlowFrame.Content),
      FlowFrame.entryTime.as(FlowFrame.EntryDate),
      lit(null).cast("string").as(FlowFrame.Relationship))

  /**
   * TailFile (TailFile.cpp:582), one path for both modes: per-line
   * FlowFiles from streaming/TailFileSource, which `load` opens with
   * `spark.read` in a batch sweep (one pass: the stream's first
   * micro-batch) or `spark.readStream` in a streaming flow. Single-file
   * mode tails exactly that name; Multiple-file mode treats "File to
   * Tail" as a regex under the base directory (TailFile.h:141-151
   * tail-mode / tail-base-directory).
   */
  private[flow] def tailFile(p: ProcessorDef,
                             load: (String, Map[String, String]) => DataFrame): DataFrame = {
    val props = p.properties
    val (dir, glob) = props.getOrElse("tail-mode", "Single file") match {
      case "Multiple file" =>
        (p.required("tail-base-directory"), props.getOrElse("File to Tail", ".*"))
      case _ =>
        val f = java.nio.file.Paths.get(p.required("File to Tail"))
        (Option(f.getParent).fold(".")(_.toString),
          java.util.regex.Pattern.quote(f.getFileName.toString))
    }
    val tailed = load("graft.streaming.TailFileSource", Map(
      "path" -> dir, "glob" -> glob,
      "initialStartPosition" ->
        props.getOrElse("Initial Start Position", "Beginning of File")))
      .withColumn("filename", element_at(split(col("path"), "/"), -1))
      .withColumn("tailfile.lineOffset", col("lineOffset").cast("string"))
      // deterministic FlowFile identity: (path, byte offset) names a
      // tailed line uniquely and survives batch replay — a random uuid()
      // would fork a line's identity between a replayed batch and the
      // provenance recorded downstream (see Lineage's determinism note)
      .withColumn("tail_uuid",
        concat(col("path"), lit("@"), col("lineOffset").cast("string")))
    FlowFrame.wrap(tailed, "line", Seq("filename", "path", "tailfile.lineOffset"),
      uuidCol = Some("tail_uuid"))
      .withColumn(FlowFrame.Relationship, lit("success"))
  }

  /** GenerateFlowFile's properties (GenerateFlowFile.h:106-124), read the
    * same way by the batch sweep and the streaming rate source. */
  private[flow] final class Generate(p: ProcessorDef) {
    private def prop(name: String, default: String): String =
      p.properties.getOrElse(name, default)
    val batchSize: Long = prop("Batch Size", "1").toLong
    val fileSize: Int = Units.parseBytes(prop("File Size", "1 kB")).toInt
    val customText: String = prop("Custom Text", "")
    val mode: Sources.GenerateMode = (prop("Data Format", "Binary"),
      Units.parseBool(prop("Unique FlowFiles", "true")),
      p.properties.contains("Custom Text")) match {
      case (_, _, true)        => Sources.CustomText
      case ("Text", true, _)   => Sources.UniqueText
      case ("Text", false, _)  => Sources.NotUniqueText
      case (_, true, _)        => Sources.UniqueBytes
      case (_, false, _)       => Sources.NotUniqueBytes
    }
    /** The FlowFile content over a `file_id` column. */
    def content: Column = Sources.generatedContent(fileSize, mode, customText)
  }

  def apply(spark: SparkSession, p: ProcessorDef,
            input: Option[DataFrame],
            services: Seq[ServiceDef] = Nil): DataFrame = {
    def service(ref: String): ServiceDef =
      services.find(sv => sv.id == ref || sv.name == ref).getOrElse(
        throw new IllegalArgumentException(
          s"processor '${p.name}' references unknown controller service '$ref'"))
    def in: DataFrame = input.getOrElse(throw new Processors.NoInputException(
      s"processor '${p.name}' (${p.kind}) has no incoming connection"))
    val props = p.properties
    def prop(name: String, default: String): String =
      props.getOrElse(name, default)
    def req(name: String): String = p.required(name)
    // delimiter-bearing properties arrive with literal backslash escapes
    // when the config writes the plain-YAML spelling ('\n'); unescape the
    // control spellings uniformly so Demarcator / Byte Sequence /
    // Outgoing Message Delimiter all read the same way
    def delimProp(name: String, default: String): String =
      prop(name, default)
        .replace("\\n", "\n").replace("\\r", "\r").replace("\\t", "\t")
    def dynamicProps(static: Set[String]): Seq[(String, String)] =
      props.view.filterKeys(!static(_)).toSeq.sortBy(_._1)
    def success(df: DataFrame): DataFrame =
      df.withColumn(FlowFrame.Relationship, lit("success"))
    val content = col(FlowFrame.Content)

    p.kind match {
      // ---------------------------------------------------------- sources
      case "GetFile" =>
        // "Keep Source File: false" (the reference default, GetFile.cpp)
        // is relaxed to keep-always: a lazily-planned scan may legally
        // re-run (AQE retry, downstream fan-out), so deleting inputs from
        // inside the plan would lose data — the move/delete completion
        // semantic lives in FetchFile, whose UDF is nondeterministic and
        // single-reference by construction
        val dir = req("Input Directory")
        // a ZERO max size/age means DISABLED — the reference defaults are
        // "0 B"/"0 sec" and GetFile only applies a max filter when the
        // parsed value is positive, so an explicit 0 must not filter
        // everything out
        def maxOrDisabled(name: String, parse: String => Long): Long =
          props.get(name).map(parse).filter(_ > 0L).getOrElse(Long.MaxValue)
        val ff = Sources.getFileFiltered(spark, dir,
          recursive = Units.parseBool(prop("Recurse Subdirectories", "true")),
          minSize = Units.parseBytes(prop("Minimum File Size", "0 B")),
          maxSize = maxOrDisabled("Maximum File Size", Units.parseBytes),
          minAgeMs = props.get("Minimum File Age").map(Units.parseDurationMs)
            .getOrElse(0L),
          maxAgeMs = maxOrDisabled("Maximum File Age", Units.parseDurationMs))
        // reference attribute contract (GetFile.cpp getFileAttrs,
        // GetFileTests.cpp:264-292): `path` is the directory RELATIVE to
        // Input Directory with a trailing slash ("./" for a direct child),
        // `absolute.path` the absolute directory with a trailing slash
        val dirAbs = new java.io.File(dir).getAbsolutePath
        val relFile = regexp_replace(
          regexp_replace(col("path"), "^file:", ""),
          "^" + java.util.regex.Pattern.quote(dirAbs) + "/", "")
        val relDir = regexp_replace(relFile, "[^/]*$", "")
        val named = ff
          .withColumn("filename", element_at(split(col("path"), "/"), -1))
          .filter(col("filename").rlike(
            "^(?:" + prop("File Filter", ".*") + ")$"))
          .filter(if (Units.parseBool(prop("Ignore Hidden Files", "true")))
            !col("filename").startsWith(".") else lit(true))
          .withColumn("text", col("content").cast("string"))
          // absolute.path FIRST: relDir reads col("path"), which the next
          // line overwrites with the relative form
          .withColumn("absolute.path", concat(lit(dirAbs + "/"), relDir))
          .withColumn("path", when(relDir === "", lit("./")).otherwise(relDir))
        // Batch Size caps files per trigger ONLY when explicitly configured
        // (GetFileTests.cpp:220-235); the batch relaxation otherwise
        // processes the whole poll. orderBy+limit plans as
        // TakeOrderedAndProject — per-partition top-K, no global sort.
        val batched = props.get("Batch Size").map(_.trim.toInt)
          .map(nLim => named.orderBy(col("path"), col("filename")).limit(nLim))
          .getOrElse(named)
        success(FlowFrame.wrap(batched, "text",
          Seq("filename", "path", "absolute.path")))

      case "ListFile" =>
        // zero-content listing with file metadata attrs (ListFile.cpp:92);
        // the content column is never selected, so the binaryFile scan
        // prunes it — a pure metadata pass even over huge files
        // min/max size + age filters (ListFile.h:64-83) as metadata
        // predicates on the pruned scan — still no content read
        // FlowFrame.entryTime is fixed per EXECUTION, not per plan build —
        // a lazily-collected or re-evaluated listing ages files against
        // the clock of the run, like the reference's listing-time check
        val ageMs = unix_millis(FlowFrame.entryTime) -
          unix_millis(col("modificationTime"))
        val listing = spark.read.format("binaryFile")
          .option("recursiveFileLookup",
            Units.parseBool(prop("Recurse Subdirectories", "true")).toString)
          .load(req("Input Directory"))
          .filter(col("length") >=
            Units.parseBytes(prop("Minimum File Size", "0 B")))
          .filter(col("length") <=
            props.get("Maximum File Size").map(Units.parseBytes)
              .getOrElse(Long.MaxValue))
          // age predicates ONLY when configured: an unconditional
          // ageMs >= 0 would silently drop files with future mtimes
          // (clock-skewed NFS) even though no age filter was asked for
          .filter(props.get("Minimum File Age")
            .map(a => ageMs >= Units.parseDurationMs(a)).getOrElse(lit(true)))
          .filter(props.get("Maximum File Age")
            .map(a => ageMs <= Units.parseDurationMs(a)).getOrElse(lit(true)))
          .select(
            col("path"),
            element_at(split(col("path"), "/"), -1).as("filename"),
            col("length").cast("string").as("file.size"),
            date_format(col("modificationTime"),
              "yyyy-MM-dd'T'HH:mm:ss'Z'").as("file.lastModifiedTime"))
          .withColumn("content", lit(""))
        success(FlowFrame.wrap(listing, "content",
          Seq("filename", "path", "file.size", "file.lastModifiedTime")))

      case "QueryDatabaseTable" =>
        // incremental catalog-table pull; the batch sweep has no state
        // store, so the max-value floor arrives via the NiFi-convention
        // `initial.maxvalue.<col>` property (streaming state lives in
        // streaming/QdbSource). Output = the reference's rowset FlowFiles
        // (QueryDatabaseTableTests.cpp:124-168): JSON arrays of the
        // Columns-to-Return projection in max-column order, chunked by Max
        // Rows Per Flow File with tablename/row-count/fragment/maxvalue
        // attrs; no new rows → no output FlowFiles (unlike ExecuteSQL's
        // [] rowset).
        val table = req("Table Name")
        // the property may carry any SQL escape form ("id", [id], `id`) —
        // schema lookups and state keys use the escape-agnostic value
        val maxColId = SqlOps.SqlColumnIdentifier(req("Maximum-value Columns"))
        val maxColName = maxColId.value
        val base = spark.table(table)
        val dt = base.schema(maxColName).dataType
        val initial = props.getOrElse(s"initial.maxvalue.${maxColId.str}",
          props.getOrElse(s"initial.maxvalue.$maxColName",
            throw new IllegalArgumentException(
              s"batch QueryDatabaseTable needs initial.maxvalue.$maxColName " +
                "(streaming mode keeps this state in the checkpoint)")))
        val filtered = base.filter(col(maxColName) > lit(initial).cast(dt))
        // the new max-value state: a tree-reduced scalar (one tiny job),
        // stamped on every output FlowFile like the reference's state attr
        val newMax = filtered.agg(max(col(maxColName)).cast("string"))
          .collect()(0).getString(0)
        val projected = props.get("Columns to Return")
          .map(cs => cs.split(",").map(_.trim).filter(_.nonEmpty))
          .filter(_.nonEmpty) match {
          case Some(cs) => filtered.orderBy(col(maxColName))
            .select(cs.map(c => col(s"`$c`")).toSeq: _*)
          case None => filtered.orderBy(col(maxColName))
        }
        val fragId = "qdt-" + java.util.UUID.nameUUIDFromBytes(
          s"$table/$maxColName/$initial".getBytes("UTF-8")).toString
        SqlOps.rowsetChunks(projected,
          prop("Max Rows Per Flow File", "0").toInt, fragId)
          .select(
            concat(col("fragmentId"), lit("#"),
              col("fragmentIndex").cast("string")).as(FlowFrame.Uuid),
            map(
              lit("tablename"), lit(table),
              lit("querydbtable.row.count"), col("rowCount").cast("string"),
              lit(FlowFrame.FragmentAttrs.Identifier), col("fragmentId"),
              lit(FlowFrame.FragmentAttrs.Index),
              col("fragmentIndex").cast("string"),
              lit(FlowFrame.FragmentAttrs.Count),
              col("fragmentCount").cast("string"),
              lit(s"maxvalue.$maxColName"), lit(newMax))
              .as(FlowFrame.Attributes),
            col("content").as(FlowFrame.Content),
            FlowFrame.entryTime.as(FlowFrame.EntryDate),
            lit("success").as(FlowFrame.Relationship))

      case "GenerateFlowFile" =>
        val g = new Generate(p)
        success(FlowFrame.wrap(Sources.generateFlowFilesMode(spark,
          g.batchSize, g.fileSize, g.mode, g.customText), "content", Seq("file_id")))

      // ------------------------------------------------------- transforms
      case "UpdateAttribute" =>
        success(Transforms.updateAttribute(in, dynamicProps(Set.empty)))

      case "ExtractText" =>
        val static = Set("Regex Mode", "Include Capture Group 0",
          "Enable repeating capture group", "Maximum Capture Group Length",
          "Size Limit", "Insensitive Match", "Maximum Capture Group Count",
          "Attribute")
        val pats = dynamicProps(static)
        val out =
          if (!Units.parseBool(prop("Regex Mode", "false")) &&
              props.contains("Attribute")) {
            // non-regex mode: the whole content (bounded by Size Limit
            // during the read, 0 = unlimited) lands in the named
            // attribute (ExtractText.cpp:61-63,138)
            val limit = prop("Size Limit", "2097152").toLong
            val text = content.cast("string")
            FlowFrame.withAttrs(in, Seq(req("Attribute") ->
              (if (limit == 0) text else substring(text, 1, limit.toInt))))
          }
          else if (Units.parseBool(prop("Regex Mode", "false")))
            Transforms.extractTextRegex(in, content.cast("string"), pats,
              includeGroupZero =
                Units.parseBool(prop("Include Capture Group 0", "true")),
              repeating = Units.parseBool(
                prop("Enable repeating capture group", "false")),
              caseInsensitive =
                Units.parseBool(prop("Insensitive Match", "false")),
              maxCaptureLen =
                prop("Maximum Capture Group Length", "1024").toInt)
          else Transforms.extractText(in, content.cast("string"),
            pats.map { case (n, re) => (n, re, 1) })
        success(out)

      case "ReplaceText" =>
        val strategyName = prop("Replacement Strategy", "Regex Replace")
        val search = prop("Search Value", "")
        val repl = prop("Replacement Value", "")
        val replaced =
          if (strategyName == "Substitute Variables")
            // placeholder substitution is per-occurrence and line-local,
            // so both evaluation modes compute the same result
            Transforms.substituteVariables(content.cast("string"),
              col(FlowFrame.Attributes))
          else {
            val strategy = strategyName match {
              case "Prepend"         => Transforms.Prepend
              case "Append"          => Transforms.Append
              case "Literal Replace" => Transforms.LiteralReplace
              case "Always Replace"  => Transforms.AlwaysReplace
              case _                 => Transforms.RegexReplace
            }
            prop("Evaluation Mode", "Line-by-Line") match {
              case "Entire text" =>
                Transforms.replaceText(content.cast("string"), strategy,
                  search, repl)
              case _ =>
                val scope = prop("Line-by-Line Evaluation Mode", "All") match {
                  case "First Line"        => Transforms.FirstLine
                  case "Last Line"         => Transforms.LastLine
                  case "Except-First Line" => Transforms.ExceptFirstLine
                  case "Except-Last Line"  => Transforms.ExceptLastLine
                  case _                   => Transforms.AllLines
                }
                Transforms.replaceTextLineByLine(content.cast("string"), "\n",
                  strategy, search, repl, scope)
            }
          }
        success(in.withColumn(FlowFrame.Content, replaced))

      case "HashContent" =>
        // reference default attribute name is "Checksum" (HashContent.h:151)
        val attr = prop("Hash Attribute", "Checksum")
        val algo = prop("Hash Algorithm", "SHA256")
        val failEmpty = Units.parseBool(prop("Fail on empty", "false"))
        FlowFrame.withAttrs(in, Seq(attr -> Transforms.hashContent(
          content, algo)))
          .withColumn(FlowFrame.Relationship,
            when(lit(failEmpty) && length(content) === 0, "failure")
              .otherwise("success"))

      case "CompressContent" =>
        // Full reference surface (CompressContent.cpp:84-203): format
        // resolution (fixed or USE_MIME_TYPE — the reference DEFAULT),
        // Encapsulate in TAR (default true: tar-wrap the content in a
        // single entry named by `filename` before compressing; expect and
        // unwrap it on decompression), Update Filename extension
        // bookkeeping, mime.type stamped on compress / removed on
        // decompress. Corrupt input routes its ORIGINAL content to
        // failure — at 100 TB a single bad archive must not abort the job.
        val isCompress = prop("Mode", "compress") == "compress"
        val encapsulate = Units.parseBool(prop("Encapsulate in TAR", "true"))
        val updateName = Units.parseBool(prop("Update Filename", "false"))
        val fmtProp = prop("Compression Format", "use mime.type").toLowerCase
        val bin = content.cast("binary")
        val formats = Seq("gzip", "bzip2", "lzma", "xz-lzma2")
        val extFor = Map("gzip" -> ".gz", "bzip2" -> ".bz2",
          "lzma" -> ".lzma", "xz-lzma2" -> ".xz")
        // per-row format: __missing__ (no mime → failure) / __unknown__
        // (unmapped mime → success untouched) only arise in mime mode
        val rowFmt: Column =
          if (fmtProp == "use mime.type") {
            val mime = FlowFrame.attr("mime.type")
            Content.MimeFormats.foldLeft(
              when(mime.isNull || mime === "", lit("__missing__"))) {
              case (acc, (m, f)) => acc.when(mime === m, lit(f))
            }.otherwise(lit("__unknown__"))
          } else lit(fmtProp)
        // non-TAR encapsulation only supports GZIP (CompressContent.cpp:110)
        val formatOk = formats.map(f => rowFmt === f).reduce(_ || _) &&
          (lit(encapsulate) || rowFmt === "gzip")
        val fname = coalesce(FlowFrame.attr("filename"), lit(""))
        def perFormat(f: String => Column): Column =
          formats.tail.foldLeft(when(rowFmt === formats.head, f(formats.head))) {
            case (acc, fmt) => acc.when(rowFmt === fmt, f(fmt))
          }
        val transformed: Column =
          if (isCompress)
            perFormat(f => Content.compress(
              if (encapsulate) Archive.tarPack(fname, bin) else bin, f))
          else perFormat { f =>
            val dec = Content.tryDecompress(bin, f)
            if (encapsulate) Archive.tarFirst(dec) else dec
          }
        val rel =
          when(rowFmt === "__unknown__", "success")        // pass through
            .when(rowFmt === "__missing__" || !formatOk, "failure")
            .when(transformed.isNull && bin.isNotNull, "failure")
            .otherwise("success")
        val pass = rowFmt === "__unknown__"
        val newContent = when(col(FlowFrame.Relationship) === "failure" || pass,
          bin).otherwise(transformed)
        // attribute bookkeeping on the success edge only
        val ext = perFormat(f => lit(extFor(f)))
        val newAttrs =
          if (isCompress) {
            val mimed = map_concat(
              map_filter(col(FlowFrame.Attributes), (k, _) => k =!= "mime.type"),
              map(lit("mime.type"), perFormat(f => lit(Content.mimeTypeFor(f)))))
            // filename + [".tar"] + ext (CompressContent.cpp:181-186)
            val renamed =
              if (!updateName) mimed
              else map_concat(
                map_filter(mimed, (k, _) => k =!= "filename"),
                map(lit("filename"), concat(fname,
                  lit(if (encapsulate) ".tar" else ""), ext)))
            when(col(FlowFrame.Relationship) === "failure" || pass,
              col(FlowFrame.Attributes)).otherwise(renamed)
          } else {
            // mime.type is REMOVED on decompression; Update Filename
            // strips the format extension if present, then a remaining
            // ".tar" when encapsulated (CompressContent.cpp:188-198)
            val noMime = map_filter(col(FlowFrame.Attributes),
              (k, _) => k =!= "mime.type")
            val stripped =
              if (!updateName) noMime
              else {
                val afterExt = when(fname.endsWith(ext),
                  fname.substr(lit(1), length(fname) - length(ext)))
                  .otherwise(fname)
                val afterTar =
                  if (!encapsulate) afterExt
                  else when(fname.endsWith(ext) && afterExt.endsWith(".tar"),
                    afterExt.substr(lit(1), length(afterExt) - lit(4)))
                    .otherwise(afterExt)
                // the reference only rewrites an EXISTING filename here
                // (getAttribute-miss never adds one on decompress)
                when(FlowFrame.attr("filename").isNotNull,
                  map_concat(
                    map_filter(noMime, (k, _) => k =!= "filename"),
                    map(lit("filename"), afterTar)))
                  .otherwise(noMime)
              }
            when(col(FlowFrame.Relationship) === "failure" || pass,
              col(FlowFrame.Attributes)).otherwise(stripped)
          }
        in.withColumn(FlowFrame.Relationship, rel)
          .withColumn(FlowFrame.Content, newContent)
          .withColumn(FlowFrame.Attributes, newAttrs)

      case "AttributesToJSON" =>
        val listed = prop("Attributes List", "")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val regexProp = prop("Attributes Regular Expression", "").trim
        // list and/or regex → union selection, core filter NOT applied;
        // neither → all attributes minus the core filter
        // (AttributesToJSON.cpp:63-83,102-107)
        val json =
          if (listed.nonEmpty || regexProp.nonEmpty)
            Transforms.attributesToJsonSelected(listed,
              Option(regexProp).filter(_.nonEmpty),
              nullForMissing = Units.parseBool(prop("Null Value", "false")))
          else Transforms.attributesToJsonAll(
            includeCore = Units.parseBool(
              prop("Include Core Attributes", "true")))
        success(prop("Destination", "flowfile-attribute") match {
          case "flowfile-content" => in.withColumn(FlowFrame.Content, json)
          case _ => FlowFrame.withAttrs(in, Seq("JSONAttributes" -> json))
        })

      case "EvaluateJsonPath" =>
        val static = Set("Destination", "Return Type", "Path Not Found Behavior",
          "Null Value Representation")
        prop("Destination", "flowfile-attribute") match {
          case "flowfile-content" =>
            Transforms.evaluateJsonPathContent(in, content.cast("string"),
              dynamicProps(static).headOption.map(_._2).getOrElse("$"))
          case _ =>
            Transforms.evaluateJsonPathFull(in, content.cast("string"),
              dynamicProps(static))
        }

      case "AppendHostInfo" =>
        success(Transforms.appendHostInfo(in,
          prop("Hostname Attribute", "source.hostname"),
          prop("IP Attribute", "source.ipv4"),
          props.get("Network Interface Filter").filter(_.nonEmpty)))

      // ---------------------------------------------------------- routing
      case "RouteOnAttribute" =>
        Routing.routeOnAttribute(in, dynamicProps(Set.empty))

      case "RouteText" =>
        val static = Set("Routing Strategy", "Matching Strategy",
          "Character Set", "Ignore Leading/Trailing Whitespace",
          "Ignore Case", "Grouping Regular Expression",
          "Grouping Fallback Value", "Segmentation Strategy")
        val strat = prop("Matching Strategy", "Starts With") match {
          case "Ends With"            => Routing.EndsWith
          case "Contains"             => Routing.ContainsStr
          case "Equals"               => Routing.EqualsStr
          case "Matches Regex"        => Routing.MatchesRegex
          case "Contains Regex"       => Routing.ContainsRegex
          case "Satisfies Expression" => Routing.SatisfiesExpression
          case _                      => Routing.StartsWith
        }
        val rules = dynamicProps(static).map { case (rel, v) =>
          (rel, strat, v) }
        val grouping = props.get("Grouping Regular Expression")
        val fallback = prop("Grouping Fallback Value", "")
        val trimWs = Units.parseBool(
          prop("Ignore Leading/Trailing Whitespace", "true"))
        val noCase = Units.parseBool(prop("Ignore Case", "false"))
        val fullTxt =
          prop("Segmentation Strategy", "Per Line") == "Full Text"
        val routed = prop("Routing Strategy", "Dynamic Routing") match {
          case "Route On All" => Routing.routeTextQuantified(
            in, content.cast("string"), "\n", rules, Routing.RouteAll,
            grouping, trimWhitespace = trimWs, ignoreCase = noCase,
            groupingFallback = fallback, fullText = fullTxt)
          case "Route On Any" => Routing.routeTextQuantified(
            in, content.cast("string"), "\n", rules, Routing.RouteAny,
            grouping, trimWhitespace = trimWs, ignoreCase = noCase,
            groupingFallback = fallback, fullText = fullTxt)
          case _ => Routing.routeText(
            in, content.cast("string"), "\n", rules,
            grouping, trimWhitespace = trimWs, ignoreCase = noCase,
            groupingFallback = fallback, fullText = fullTxt)
        }
        // reassemble one FlowFile per (relationship, group) per input row
        // (RouteText.cpp:225): raw segments concatenate into the content
        val merged = Routing.routeTextMerged(routed,
          perDocCol = Some(col(FlowFrame.Uuid)))
        val withGroup =
          if (merged.columns.contains("group"))
            merged.withColumn(FlowFrame.Attributes,
              map(lit("RouteText.Group"), col("group")))
          else merged.withColumn(FlowFrame.Attributes,
            map().cast("map<string,string>"))
        withGroup.select(
          col("docKey").as(FlowFrame.Uuid),
          col(FlowFrame.Attributes),
          col("merged").as(FlowFrame.Content),
          FlowFrame.entryTime.as(FlowFrame.EntryDate),
          col(FlowFrame.Relationship))

      case "RetryFlowFile" =>
        Routing.retryFlowFile(in,
          maxRetries = prop("Maximum Retries", "3").toInt,
          failOnNonNumericalOverwrite = Units.parseBool(
            prop("Fail on Non-numerical Overwrite", "false")))

      case "Funnel" => success(in)

      // local process-group ports are pure pass-throughs (ForwardingNode.h:
      // 35 — single "success" relationship); a remote-process-group port's
      // site-to-site transmission is a live-socket surface (COVERAGE.md),
      // so in a batch sweep it forwards on its DefaultRelationship
      // "undefined" (RemoteProcessGroupPort.h:87) and the wire protocol is
      // out of scope
      // a declared-but-unconnected port (an output port whose traffic
      // arrives on the NEXT trigger, or an unused input port) simply emits
      // nothing this sweep
      case "InputPort" | "OutputPort" =>
        success(input.getOrElse(emptyFlowFrame(spark)))
      case "RemoteProcessGroupPort" =>
        input.getOrElse(emptyFlowFrame(spark))
          .withColumn(FlowFrame.Relationship, lit("undefined"))

      case "LogAttribute" =>
        // full property surface (LogAttribute.h:55-95): list filters,
        // payload logging with hex + line wrap, the centered dash prefix.
        // FlowFiles To Log caps the PER-TRIGGER batch in the reference,
        // which re-triggers until the queue drains — this batch sweep IS
        // the drained queue, so every row renders regardless of the cap.
        // Log Level only selects the logger severity; the message is
        // identical, so it needs no dispatch plumbing.
        def csv(p: String): Option[Seq[String]] =
          props.get(p).filter(_.nonEmpty)
            .map(_.split(",").map(_.trim).toSeq)
        success(in.withColumn("log", Transforms.logAttributeMessage(
          content,
          attributesToLog = csv("Attributes to Log"),
          attributesToIgnore = csv("Attributes to Ignore"),
          logPayload = Units.parseBool(prop("Log Payload", "false")),
          hexencode = Units.parseBool(prop("Hexencode Payload", "false")),
          maxLineLength = prop("Maximum Payload Line Length", "80").toInt,
          logPrefix = prop("Log Prefix", ""))))

      // ------------------------------------------------------ split/merge
      case "SplitText" =>
        // full reference surface: LineReader lines, size cap, header
        // lines/markers, trailing-newline trim (SplitText.h:60-113;
        // semantics pinned by SplitTextSpec). One pass over the input: the
        // same explode emits the fragments and the failure/original rows,
        // which are the ORIGINAL FlowFile routed whole (uuid, attributes,
        // content and entry date carried untouched — the reference
        // transfers the input onward, it does not fabricate a fragment;
        // zero-fragment inputs forward as `original` instead of vanishing)
        val frags = SplitMerge.splitTextFull(in, col(FlowFrame.Uuid),
          content.cast("string"),
          lineSplitCount = prop("Line Split Count", "1").toInt,
          maxFragmentSize = props.get("Maximum Fragment Size")
            .map(Units.parseBytes),
          headerLineCount = prop("Header Line Count", "0").toInt,
          headerMarker = props.get("Header Line Marker Characters"),
          trimTrailingNewlines =
            Units.parseBool(prop("Remove Trailing Newlines", "true")),
          carry = Seq(FlowFrame.Attributes, FlowFrame.EntryDate,
            FlowFrame.Content))
        fragmentFrame(frags, "fragmentIndex", "fragment",
          countCol = Some("fragmentCount"),
          relationship = col("relationship"),
          extraAttrs = Seq("text.line.count" -> "textLineCount",
            "fragment.size" -> "fragmentSize"),
          passthrough = Some(col("relationship").isin("failure", "original")))

      case "SplitContent" =>
        val keep = Units.parseBool(prop("Keep Byte Sequence", "false"))
        val loc = prop("Byte Sequence Location", "Trailing") match {
          case "Leading" => SplitMerge.Leading
          case _         => SplitMerge.Trailing
        }
        // Byte Sequence is REQUIRED (SplitContentTests.cpp
        // "WithoutByteSequence": PropertyNotSet error) and its format
        // DEFAULTS to Hexadecimal over raw bytes (SplitContent.h:40-49);
        // Text mode takes the property bytes with the usual control-char
        // unescapes. Both run binary-safe — fragments stay BINARY.
        val rawSeq = req("Byte Sequence")
        val delimBytes: Array[Byte] =
          prop("Byte Sequence Format", "Hexadecimal") match {
            case "Text" => delimProp("Byte Sequence", "\n").getBytes("UTF-8")
            case _ =>
              require(rawSeq.matches("(?i)[0-9a-f]+") && rawSeq.length % 2 == 0,
                s"processor '${p.name}': Byte Sequence '$rawSeq' is not " +
                  "valid hexadecimal")
              rawSeq.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
          }
        val frags = SplitMerge.splitContentBinary(in, col(FlowFrame.Uuid),
          content.cast("binary"), delimBytes, keep, loc,
          carry = Seq(FlowFrame.Attributes))
        fragmentFrame(frags, "fragmentIndex", "fragment",
          countCol = Some("fragmentCount"))

      case "SegmentContent" =>
        // BINARY content: Segment Size counts BYTES (SegmentContentTests
        // .cpp:134 byte-input battery) — substring/length operate on raw
        // bytes for BinaryType, so a string cast (which would re-measure
        // in chars and corrupt non-UTF8 bytes) must not happen here
        val frags = SplitMerge.segmentContent(in, col(FlowFrame.Uuid),
          content.cast("binary"),
          Units.parseBytes(prop("Segment Size", "1 kB")).toInt,
          carry = Seq(FlowFrame.Attributes))
        // the reference routes segments to "segments", not "splits"
        // (SegmentContent.h:50-53)
        fragmentFrame(frags, "segmentIndex", "segment",
          countCol = Some("fragmentCount"), relationship = lit("segments"))

      case "MergeContent" =>
        // Delimiter Strategy (MergeContent.h:332-336): "Filename" resolves
        // Header/Footer/Demarcator as files to read, "Text" uses the
        // property value. The reference's property spellings are
        // "Header File"/"Demarcator File"/... with strategy default
        // FILENAME; the bare NiFi spellings ("Demarcator") are accepted as
        // a dispatch convenience and default to Text — an explicit
        // Delimiter Strategy property governs both.
        def delimiter(names: Seq[String]): String = {
          val hit = names.collectFirst {
            case n if props.contains(n) => (n, delimProp(n, ""))
          }
          hit match {
            case None => ""
            case Some((name, raw)) =>
              val strategyDefault =
                if (name.endsWith(" File")) "Filename" else "Text"
              if (prop("Delimiter Strategy", strategyDefault) == "Filename"
                  && raw.nonEmpty)
                new String(java.nio.file.Files.readAllBytes(
                  java.nio.file.Paths.get(raw)), "UTF-8")
              else raw
          }
        }
        val demarcator = delimiter(Seq("Demarcator", "Demarcator File"))
        val headerTxt = delimiter(Seq("Header", "Header File"))
        val footerTxt = delimiter(Seq("Footer", "Footer File"))
        prop("Merge Strategy", "Defragment") match {
          case "Defragment" =>
            // ONE aggregate keyed on fragment.identifier computes content,
            // counts, JOIN parents and merged attributes: one scan, one
            // shuffle, no cache, no join — a side-effecting upstream
            // (FetchFile move/delete) runs once by construction.
            // Member attributes merge per the Attribute Strategy; fragment
            // bookkeeping attrs are per-member and excluded like the
            // reference's BinFiles scrub, and merge.count is the merge's OWN
            // output attr (excluded so map_concat sees no duplicate key).
            val fragKeys = Seq(FlowFrame.FragmentAttrs.Identifier,
              FlowFrame.FragmentAttrs.Index, FlowFrame.FragmentAttrs.Count,
              "merge.count",
              // per-member lineage must not leak into the merged map —
              // the merge emits its OWN JOIN event below
              Lineage.EventAttr, Lineage.ParentsAttr)
            val memberAttrs = map_filter(col(FlowFrame.Attributes),
              (k, _) => !k.isin(fragKeys.map(lit): _*))
            val merged = SplitMerge.mergeContentDefragment(in,
              FlowFrame.attr(FlowFrame.FragmentAttrs.Identifier),
              FlowFrame.attr(FlowFrame.FragmentAttrs.Index).cast("int"),
              content.cast("string"),
              FlowFrame.attr(FlowFrame.FragmentAttrs.Count).cast("long"),
              demarcator, headerTxt, footerTxt,
              extraAggs = Seq(
                SplitMerge.mergedAttributesAgg(memberAttrs,
                  keepOnlyCommon = prop("Attribute Strategy",
                    "Keep Only Common Attributes") ==
                    "Keep Only Common Attributes").as("__mergedAttrs"),
                // JOIN lineage (Provenance.h JOIN): the merged FlowFile's
                // parents are its member uuids
                array_join(array_sort(collect_list(col(FlowFrame.Uuid))), ",")
                  .as("__joinParents")))
            // FlowFiles without a fragment.identifier share one null-keyed
            // group: no real merge, so no merged attributes or parents
            val identified = col("mergeId").isNotNull
            merged.select(
                col("mergeId").as(FlowFrame.Uuid),
                map_concat(
                  when(identified, col("__mergedAttrs"))
                    .otherwise(map().cast("map<string,string>")),
                  map(lit("merge.count"), col("fragmentsSeen").cast("string")),
                  Lineage.eventMap(Lineage.Join,
                    when(identified, col("__joinParents"))))
                  .as(FlowFrame.Attributes),
                col("merged").as(FlowFrame.Content),
                FlowFrame.entryTime.as(FlowFrame.EntryDate),
                when(col(FlowFrame.Relationship) === "merged", "merged")
                  .otherwise("failure").as(FlowFrame.Relationship))
          case _ => // "Bin-Packing Algorithm"
            // without a correlation attribute every row would share one
            // sequential pack partition at scale; bins are arbitrary
            // arrival groupings in the reference, so partition-local
            // binning is an equally valid grouping and keeps the pack
            // parallel
            val corr = props.get("Correlation Attribute Name")
              .map(FlowFrame.attr)
              .getOrElse(spark_partition_id().cast("string"))
            // strict-fit + close-when-ready packing, the reference's
            // exact Bin::offer/isReadyForMerge rules (MergeFileTests.cpp
            // "Maximum Group Size is respected")
            val merged = SplitMerge.mergeContentBinPackStrict(in,
              corr, col(FlowFrame.Uuid), content.cast("string"),
              maxEntries = prop("Maximum Number of Entries", "1000").toInt,
              maxGroupSize = props.get("Maximum Group Size")
                .map(Units.parseBytes).getOrElse(Long.MaxValue),
              minEntries = prop("Minimum Number of Entries", "1").toInt,
              minGroupSize = props.get("Minimum Group Size")
                .map(Units.parseBytes).getOrElse(0L),
              demarcator = demarcator,
              header = headerTxt, footer = footerTxt)
            merged.select(
              FlowFrame.newUuid.as(FlowFrame.Uuid),
              map(lit("merge.count"), col("mergeCount").cast("string"),
                lit("merge.correlation"), col("correlation").cast("string"),
                lit(Lineage.EventAttr), lit(Lineage.Join),
                lit(Lineage.ParentsAttr), col("memberIds"))
                .as(FlowFrame.Attributes),
              col("merged").as(FlowFrame.Content),
              FlowFrame.entryTime.as(FlowFrame.EntryDate),
              when(col(FlowFrame.Relationship) === "merged", "merged")
                .otherwise("failure").as(FlowFrame.Relationship))
        }

      case "ConvertRecord" =>
        // reader/writer resolve through controller services
        // (ConvertRecord.cpp:36); the reader service carries the record
        // schema as Spark DDL under "Schema Text" (schema-optional inference
        // is a per-batch sample in the reference — here the schema is
        // explicit, the plan-stable choice at scale)
        val reader = service(req("Record Reader"))
        val writer = service(req("Record Writer"))
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          reader.properties.getOrElse("Schema Text",
            throw new IllegalArgumentException(
              s"reader service '${reader.name}' needs a Schema Text property")))
        // one FlowFile may carry MANY records (array or line-delimited,
        // JsonRecordTests.cpp:119-127) — the reader yields the record
        // array, the writer renders each, and the output FlowFile joins
        // them one-per-line (the writer's One Line Per Object grouping)
        val parsed = reader.clazz match {
          case c if c.endsWith("JsonTreeReader") =>
            graft.record.Records.jsonTreeRecords(content.cast("string"), schema)
          case c if c.endsWith("XMLReader") =>
            array(graft.record.Records.xmlReader(content.cast("string"), schema))
          case other => throw new IllegalArgumentException(
            s"unsupported record reader '$other'")
        }
        val isXmlWriter = writer.clazz.endsWith("XMLRecordSetWriter")
        def render(rec: Column): Column = writer.clazz match {
          case c if c.endsWith("JsonRecordSetWriter") =>
            graft.record.Records.jsonPerObject(rec)
          case c if c.endsWith("CSVRecordSetWriter") =>
            graft.record.Records.jsonToCsvLine(rec, schema.fieldNames.toSeq)
          case other => throw new IllegalArgumentException(
            s"unsupported record writer '$other'")
        }
        // XMLRecordSetWriter writes the WHOLE record set as one rooted
        // document (convertRecordSetToXml) with the controller's full
        // option surface — validated at flow build, like onEnable
        def renderXmlSet(recs: Column): Column = {
          val p = writer.properties
          graft.record.XmlRecords.recordSetXml(recs,
            graft.record.XmlRecords.XmlWriterOptions(
              recordTag = p.getOrElse("Name of Record Tag", ""),
              rootTag = p.getOrElse("Name of Root Tag", ""),
              wrapElementsOfArrays =
                p.getOrElse("Wrap Elements of Arrays", "No Wrapping"),
              arrayTagName = p.getOrElse("Array Tag Name", ""),
              omitXmlDeclaration =
                Units.parseBool(p.getOrElse("Omit XML Declaration", "false")),
              prettyPrint =
                Units.parseBool(p.getOrElse("Pretty Print XML", "false"))))
        }
        // an element rendering to "{}" carries no fields — the XML
        // reader's zero-record shape (<record></record>,
        // ConvertRecordTests.cpp "Empty flow files")
        val isXml = reader.clazz.endsWith("XMLReader")
        val recs =
          if (isXml) filter(col("__raw"), r => to_json(r) =!= "{}")
          else col("__raw")
        val readFail = col("__raw").isNull ||
          exists(col("__raw"), r => r.isNull) ||
          // from_xml's PERMISSIVE mode masks garbage as an all-null
          // struct; non-XML-shaped text is a read failure, while a
          // well-formed empty record stays the zero-record success shape
          (if (isXml) !content.cast("string").rlike("^\\s*<")
           else graft.record.Records.jsonTreeReadFailed(content.cast("string")))
        val includeZero =
          Units.parseBool(prop("Include Zero Record FlowFiles", "true"))
        in.withColumn("__raw", parsed)
          .withColumn("__n",
            when(readFail, lit(-1L)).otherwise(size(recs).cast("long")))
          .withColumn(FlowFrame.Relationship,
            when(col("__n") >= 0, "success").otherwise("failure"))
          .withColumn(FlowFrame.Attributes,
            when(col("__n") >= 0, map_concat(
              map_filter(col(FlowFrame.Attributes),
                (k, _) => k =!= "record.count"),
              map(lit("record.count"), col("__n").cast("string"))))
              .otherwise(col(FlowFrame.Attributes)))
          .withColumn(FlowFrame.Content,
            when(col("__n") > 0,
              if (isXmlWriter) renderXmlSet(recs)
              else array_join(transform(recs, r => render(r)), "\n"))
              .when(col("__n") === 0,
                // zero records still produce the empty rooted document
                if (isXmlWriter) renderXmlSet(recs) else lit(""))
              .otherwise(content))
          // zero-record FlowFiles drop entirely unless included
          .filter(col("__n") =!= 0 || lit(includeZero))
          .drop("__raw", "__n")

      // ------------------------------------------------- content rewrites
      case "JoltTransformJSON" =>
        val spec = req("Jolt Specification")
        // shift returns struct(content, relationship) — failure keeps input
        in.withColumn("__jolt",
            graft.ops.JoltShift.shift(spec, content.cast("string")))
          .withColumn(FlowFrame.Content, col("__jolt._1"))
          .withColumn(FlowFrame.Relationship, col("__jolt._2"))
          .drop("__jolt")

      case "ApplyTemplate" =>
        val template = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(req("Template"))))
        success(in.withColumn(FlowFrame.Content,
          Content.applyTemplate(template)))

      // ----------------------------------------------- external processes
      case "ExecuteProcess" =>
        import spark.implicits._
        val command = prop("Command", "")
        val arguments = prop("Command Arguments", "")
        def stampCmd(df: DataFrame): DataFrame =
          df.withColumn(FlowFrame.Attributes,
            map_concat(col(FlowFrame.Attributes),
              map(lit("command"), lit(command),
                lit("command.arguments"), lit(arguments))))
        input match {
          case None =>
            // reference shape (ExecuteProcessTests.cpp): a SOURCE — one
            // process per trigger on the driver, stdout becomes one
            // FlowFile, no output → no FlowFile, command attrs stamped,
            // Working Directory + Redirect Error Stream honored
            val out = Exec.runProcessOnce(command, arguments,
              workingDir = props.get("Working Directory").filter(_.nonEmpty),
              redirectErrorStream =
                Units.parseBool(prop("Redirect Error Stream", "false")))
            success(stampCmd(FlowFrame.wrap(
              out.toSeq.toDF("content"), "content", Nil)))
          case Some(in0) =>
            // input-streaming extension: rows pipe through the command's
            // stdin per partition (quote-aware argv, same tokenizer)
            val argv = Exec.tokenizeCommand((command + " " + arguments).trim)
            val outLines = Exec.executeProcess(
              in0.select(col(FlowFrame.Content).cast("string")).as[String], argv)
            success(stampCmd(FlowFrame.wrap(
              outLines.toDF("content"), "content", Nil)))
        }

      case "InvokeHTTP" =>
        val urlEl = req("Remote URL")
        // Attributes to Send: FULL-string regex over attribute names, with
        // the invalid-header-field policy (fail vetoes the request →
        // failure; drop skips; transform rewrites) — InvokeHTTP.cpp:213-239
        val hdrCol = Exec.headerPrepUdf(
          props.get("Attributes to Send").filter(_.nonEmpty),
          prop("Invalid HTTP Header Field Handling Strategy", "transform"))(
          col(FlowFrame.Attributes))
        val call = Exec.httpRequestHeadersUdf(prop("HTTP Method", "GET"))(
          ElCompiler.template(urlEl), content.cast("string"), hdrCol)
        val sent = in.withColumn("__http", call)
        val routed = sent.withColumn(FlowFrame.Relationship,
          when(col("__http._1") <= -1, "failure")
            .otherwise(Exec.routeByStatus(col("__http._1"))))
        val bodyAttr = props.get("Put Response Body in Attribute")
          .filter(_.nonEmpty)
        FlowFrame.withAttrs(routed, Seq(
          "invokehttp.status.code" -> col("__http._1").cast("string"),
          "invokehttp.response.body" -> col("__http._2")) ++
          bodyAttr.map(a => a -> col("__http._2")))
          .drop("__http")

      // ------------------------------------------------------ sql sources
      case "RunLlamaCppInference" =>
        // prompt is EL over the input's attributes (context.getProperty
        // with the flow file); generation is the REAL TinyLlm forward
        // pass + greedy decode (r19) at the native-lib boundary
        Exec.runLlamaInference(in, content,
          promptCol = ElCompiler.template(prop("Prompt", "")),
          systemPrompt =
            props.getOrElse("System Prompt", Exec.LlamaDefaultSystemPrompt))

      case "PutSQL" =>
        // PutSQL (PutSQL.h:34-44; PutSQLTests.cpp:36-136): execute the SQL
        // Statement property (EL over the input's attributes) or the input
        // CONTENT per FlowFile, with sql.args.N.value positional binds.
        // The INPUT FlowFile routes to success, or to failure when the
        // statement cannot bind/parse/execute. Statements are
        // control-plane cardinality (one per FlowFile) — Spark runs each
        // INSERT as an eager distributed command.
        val stmtCol = props.get("SQL Statement")
          .map(el => ElCompiler.template(el))
          .getOrElse(col(FlowFrame.Content).cast("string"))
        // Driver-side bound: the collect stages exactly three columns per
        // input FlowFile — uuid, the rendered statement, and ONLY the
        // sql.args.* map entries (filtered distributed-side) — never the
        // full attribute map or content. Cardinality is control-plane by
        // contract: each FlowFile IS one statement for the driver's SQL
        // loop; the rows every statement touches stay distributed.
        val staged = in.select(col(FlowFrame.Uuid).cast("string").as("__u"),
          stmtCol.as("__stmt"),
          map_filter(col(FlowFrame.Attributes),
            (k, _) => k.startsWith("sql.args.")).as("__attrs"))
          .collect()
        val failed = staged.flatMap { r =>
          val args = sqlArgs(r.getMap[String, String](r.fieldIndex("__attrs")))
          try {
            spark.sql(SqlOps.bindPositionalArgs(r.getString(1), args))
            None
          } catch {
            case scala.util.control.NonFatal(_) => Some(r.getString(0))
          }
        }.toSeq
        in.withColumn(FlowFrame.Relationship,
          if (failed.isEmpty) lit("success")
          else when(col(FlowFrame.Uuid).cast("string").isin(failed: _*),
            "failure").otherwise("success"))

      case "ExecuteSQL" =>
        // Full FlowFile surface (ExecuteSQLTests.cpp:27-232): statement
        // from the property (EL over the input's attributes) or from the
        // input CONTENT when the property is absent; positional `?`
        // parameters bound from sql.args.N.value attributes in N order;
        // rowsets render as JSON arrays chunked by Max Rows Per Flow File
        // with executesql.row.count + fragment attrs; a statement that
        // fails to parse/analyze/bind routes its INPUT FlowFile to
        // `failure` untouched. Statements are control-plane cardinality —
        // the per-statement loop is a metadata-scale collect; each
        // statement's ROWS stay distributed end to end.
        val maxRows = prop("Max Rows Per Flow File", "0").toInt
        def wrapRowsets(rs: DataFrame): DataFrame = rs.select(
          concat(col("fragmentId"), lit("#"),
            col("fragmentIndex").cast("string")).as(FlowFrame.Uuid),
          map(
            lit("executesql.row.count"), col("rowCount").cast("string"),
            lit(FlowFrame.FragmentAttrs.Identifier), col("fragmentId"),
            lit(FlowFrame.FragmentAttrs.Index),
            col("fragmentIndex").cast("string"),
            lit(FlowFrame.FragmentAttrs.Count),
            col("fragmentCount").cast("string")).as(FlowFrame.Attributes),
          col("content").as(FlowFrame.Content),
          FlowFrame.entryTime.as(FlowFrame.EntryDate),
          lit("success").as(FlowFrame.Relationship))
        input match {
          case None =>
            val stmt = req("SQL select query")
            wrapRowsets(SqlOps.executeSqlRowsets(spark, stmt, Nil, maxRows,
              "sql-" + java.util.UUID.nameUUIDFromBytes(
                stmt.getBytes("UTF-8")).toString))
          case Some(in0) =>
            val stmtCol = props.get("SQL select query")
              .map(el => ElCompiler.template(el))
              .getOrElse(col(FlowFrame.Content).cast("string"))
            // Same driver-side bound as PutSQL: uuid + rendered statement
            // + only the sql.args.* entries reach the collect.
            val staged = in0.select(
              col(FlowFrame.Uuid).cast("string").as("__u"),
              stmtCol.as("__stmt"),
              map_filter(col(FlowFrame.Attributes),
                (k, _) => k.startsWith("sql.args.")).as("__attrs")).collect()
            val results = staged.toSeq.map { r =>
              val u = r.getString(0)
              val args = sqlArgs(r.getMap[String, String](
                r.fieldIndex("__attrs")))
              try Right(SqlOps.executeSqlRowsets(spark, r.getString(1), args,
                maxRows, u + "#sql"))
              catch { case scala.util.control.NonFatal(_) => Left(u) }
            }
            val ok = results.collect { case Right(rs) => wrapRowsets(rs) }
            val failedIds = results.collect { case Left(u) => u }
            val failures =
              if (failedIds.isEmpty) Nil
              else Seq(in0.filter(col(FlowFrame.Uuid).cast("string")
                  .isin(failedIds: _*))
                .withColumn(FlowFrame.Relationship, lit("failure")))
            (ok ++ failures).reduceOption(_ unionByName _)
              .getOrElse(in0.limit(0)) // no inputs → no outputs, same shape
        }

      case "TailFile" =>
        tailFile(p, (format, opts) => spark.read.format(format).options(opts).load())

      case "FetchFile" =>
        val pathCol = props.get("File to Fetch")
          .map(el => ElCompiler.template(el))
          .getOrElse(FlowFrame.attr("absolute.path"))
        val completion = prop("Completion Strategy", "None") match {
          case "Move File"   => "move"
          case "Delete File" => "delete"
          case _             => "none"
        }
        Sources.fetchFile(in, pathCol, completion,
          prop("Move Destination Directory", ""),
          prop("Move Conflict Strategy", "Replace File"))

      case "PutSplunkHTTP" =>
        // Raw HEC POST, reference-exact (PutSplunkHTTP.cpp getEndpoint):
        // content as-is to /services/collector/raw, metadata as URL-escaped
        // query parameters (sourcetype, source, host, index, in that
        // order), token in the Authorization header, per-row Content-Type
        // from the property else the mime.type attribute. Success requires
        // status 200 AND response JSON code==0 AND a present ackId
        // (enrichFlowFileWithAttributes); the splunk.* attributes mirror
        // SplunkAttributes.h, with code/ackId stamped only when the
        // response carries them (PutSplunkHTTPTests.cpp:58-112).
        val scheme = prop("Scheme", "https")
        val queryParams = Seq(
          "sourcetype" -> props.get("Source Type"),
          "source" -> props.get("Source"),
          "host" -> props.get("Host"),
          "index" -> props.get("Index")).collect { case (k, Some(v)) =>
          k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }
        val url = s"$scheme://${req("Hostname")}:${prop("Port", "8088")}" +
          "/services/collector/raw" +
          (if (queryParams.isEmpty) "" else queryParams.mkString("?", "&", ""))
        val headers = Map(
          "Authorization" -> s"Splunk ${prop("Token", "")}") ++
          props.get("Splunk Request Channel")
            .map("X-Splunk-Request-Channel" -> _)
        val contentType = props.get("Content Type").map(lit(_))
          .getOrElse(FlowFrame.attr("mime.type"))
        val call = Exec.httpRequestTypedUdf("POST", headers = headers)(
          lit(url), content.cast("string"), contentType)
        val sent = in.withColumn("__http", call)
        val respCode = get_json_object(col("__http._2"), "$.code")
        val ackId = get_json_object(col("__http._2"), "$.ackId")
        val ok = col("__http._1") === 200 && respCode === "0" &&
          ackId.isNotNull
        FlowFrame.withAttrsMap(
          sent.withColumn(FlowFrame.Relationship,
            when(ok, "success").otherwise("failure")),
          map_filter(map(
            lit("splunk.status.code"), col("__http._1").cast("string"),
            lit("splunk.responded.at"),
              unix_millis(FlowFrame.entryTime).cast("string"),
            lit("splunk.response.code"), respCode,
            lit("splunk.acknowledgement.id"), ackId),
            (_, v) => v.isNotNull))
          .drop("__http")

      case "QuerySplunkIndexingStatus" =>
        // Ack-status poll (QuerySplunkIndexingStatus.cpp:49-160): the
        // batch's pending splunk.acknowledgement.id set — metadata scale,
        // the pending-ack window — is queried in Maximum Query Size chunks
        // with ONE driver-side POST per chunk (the reference makes one
        // call per trigger). Routing per row: duplicate ids in the batch →
        // failure (all occurrences, QuerySplunkIndexingStatusTests.cpp
        // "Multiple inputs with same id"); ack true → acknowledged; ack
        // false older than Maximum Waiting Time (or with no
        // splunk.responded.at) → unacknowledged; ack false and young →
        // undetermined (the retry edge); id missing from the response, no
        // id attribute, or a failed call → failure.
        val scheme = prop("Scheme", "https")
        val url = s"$scheme://${req("Hostname")}:${prop("Port", "8088")}" +
          "/services/collector/ack"
        val maxAgeMs = Units.parseDurationMs(
          prop("Maximum Waiting Time", "1 hour"))
        val maxQuery = prop("Maximum Query Size", "1000").toInt
        val idCol = FlowFrame.attr("splunk.acknowledgement.id")
        val counts = in.groupBy(idCol.as("__id"))
          .agg(count(lit(1)).as("__n")).collect()
        val dups = counts.filter(r => !r.isNullAt(0) && r.getLong(1) > 1)
          .map(_.getString(0)).toSeq
        val unique = counts.filter(r => !r.isNullAt(0) && r.getLong(1) == 1)
          .map(_.getString(0)).toSeq
        val headers = Map(
          "Authorization" -> s"Splunk ${prop("Token", "")}",
          "Content-Type" -> "application/json") ++
          props.get("Splunk Request Channel")
            .map("X-Splunk-Request-Channel" -> _)
        val statuses = collection.mutable.Map[String, Boolean]()
        unique.grouped(maxQuery).foreach { chunk =>
          val body = chunk.mkString("{\"acks\":[", ",", "]}")
          val (status, respBody) =
            Exec.httpRequestOnce(url, "POST", body, headers)
          if (status == 200) {
            try {
              val acks = new com.fasterxml.jackson.databind.ObjectMapper()
                .readTree(respBody).path("acks")
              chunk.foreach { id =>
                val n = acks.path(id)
                if (n.isBoolean) statuses(id) = n.asBoolean
              }
            } catch { case scala.util.control.NonFatal(_) => () }
          }
        }
        def inSet(ids: Seq[String]): Column =
          if (ids.isEmpty) lit(false) else idCol.isin(ids: _*)
        val ackedTrue = statuses.filter(_._2).keys.toSeq
        val ackedFalse = statuses.filterNot(_._2).keys.toSeq
        val respondedAt = FlowFrame.attr("splunk.responded.at").cast("long")
        val timedOut = respondedAt.isNull ||
          unix_millis(FlowFrame.entryTime) > respondedAt + maxAgeMs
        in.withColumn(FlowFrame.Relationship,
          when(idCol.isNull || inSet(dups), "failure")
            .when(inSet(ackedTrue), "acknowledged")
            .when(inSet(ackedFalse) && timedOut, "unacknowledged")
            .when(inSet(ackedFalse), "undetermined")
            .otherwise("failure"))

      case "PostElasticsearch" =>
        // per-row single-action _bulk POST (PostElasticsearchTests.cpp:
        // 28-120; batching to Max Batch Size is the foreachBatch writer's
        // job at scale). Action is attribute EL; upsert maps onto the
        // _bulk update+doc_as_upsert form; credentials come from the
        // ElasticsearchCredentialsControllerService (Basic user/password
        // or 'ApiKey <key>'); the response's per-item result stamps
        // elasticsearch.<action>._id/._index, an item-level error adds
        // .error.type/.error.reason and routes to the ERROR relationship
        // (transport/auth failures stay on `failure`).
        val url = req("Hosts").stripSuffix("/") + "/_bulk"
        val actionCol = ElCompiler.template(prop("Action", "index"))
        val indexEl = ElCompiler.template(req("Index"))
        val idEl = props.get("Identifier").map(ElCompiler.template(_))
          .getOrElse(col(FlowFrame.Uuid))
        val auth: Option[(String, String)] =
          props.get("Elasticsearch Credentials Provider Service").map { ref =>
            val sv = service(ref)
            sv.properties.get("API Key") match {
              case Some(key) => "Authorization" -> s"ApiKey $key"
              case None =>
                val user = sv.properties.getOrElse("Username", "")
                val pass = sv.properties.getOrElse("Password", "")
                "Authorization" -> ("Basic " + java.util.Base64.getEncoder
                  .encodeToString(s"$user:$pass".getBytes("UTF-8")))
            }
          }
        val payload = concat(Sinks.esBulkLines(actionCol, indexEl, idEl,
          content.cast("string")), lit("\n"))
        val call = Exec.httpRequestUdf("POST",
          headers = Map("Content-Type" -> "application/x-ndjson") ++ auth)(
          lit(url), payload)
        val sent = in.withColumn("__act",
            coalesce(when(actionCol.isin("update", "upsert"), "update")
              .otherwise(actionCol), lit("unknown")))
          .withColumn("__http", call)
        // one action per POST → the row's result is items[0]; the item
        // object's single key is the resolved action name
        val itemMap = from_json(
          get_json_object(col("__http._2"), "$.items[0]"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))
        val itemJson = element_at(itemMap, col("__act"))
        val errType = get_json_object(itemJson, "$.error.type")
        val errReason = get_json_object(itemJson, "$.error.reason")
        val transportOk = col("__http._1").between(200, 299)
        val withItem = sent.withColumn("__item", itemJson)
        FlowFrame.withAttrsMap(
          withItem.withColumn(FlowFrame.Relationship,
            when(!transportOk || col("__item").isNull, "failure")
              .when(get_json_object(col("__item"), "$.error").isNotNull,
                "error")
              .otherwise("success")),
          map_filter(map(
            lit("elasticsearch.status.code"),
              col("__http._1").cast("string"),
            concat(lit("elasticsearch."), col("__act"), lit("._id")),
              get_json_object(col("__item"), "$._id"),
            concat(lit("elasticsearch."), col("__act"), lit("._index")),
              get_json_object(col("__item"), "$._index"),
            concat(lit("elasticsearch."), col("__act"), lit(".error.type")),
              errType,
            concat(lit("elasticsearch."), col("__act"),
              lit(".error.reason")), errReason),
            (_, v) => v.isNotNull))
          .drop("__http", "__item", "__act")

      case "PushGrafanaLokiREST" =>
        // whole-sweep aggregation into ONE push body (the reference
        // batches by Max Batch Size; the micro-batch is the batch here)
        val labels = prop("Stream Labels", "job=graft").split(",")
          .map(_.trim.split("=", 2)).collect { case Array(k, v) => (k, v) }
          .toSeq
        val tsNanos = (unix_millis(col(FlowFrame.EntryDate)) * 1000000L)
        // Log Line Metadata Attributes: listed attributes that are PRESENT
        // on the row ride as each value's metadata object
        val metadataCol = props.get("Log Line Metadata Attributes")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty)
          .map(names => map_filter(col(FlowFrame.Attributes),
            (k, _) => k.isin(names.map(lit(_)): _*)))
        val body = in.agg(Sinks.lokiPushBody(
          Sinks.lokiStream(labels, tsNanos, content.cast("string"),
            metadataCol))
          .as("body"))
        val url = req("Url").stripSuffix("/") + "/loki/api/v1/push"
        val headers = Map("Content-Type" -> "application/json") ++
          props.get("Tenant ID").map("X-Scope-OrgID" -> _)
        val call = Exec.httpRequestUdf("POST", headers = headers)(
          lit(url), col("body"))
        body.withColumn("__http", call)
          .select(
            FlowFrame.newUuid.as(FlowFrame.Uuid),
            map(lit("loki.status.code"), col("__http._1").cast("string"))
              .as(FlowFrame.Attributes),
            col("body").as(FlowFrame.Content),
            FlowFrame.entryTime.as(FlowFrame.EntryDate),
            when(col("__http._1").between(200, 299), "success")
              .otherwise("failure").as(FlowFrame.Relationship))

      // ------------------------------------------------------------ sinks
      case "PutFile" =>
        // Directory is EL-evaluated per row (the reference's common
        // `/out/${attr}` fan-out pattern); a constant directory compiles
        // to a literal column, so the static case costs nothing extra
        val dirEl = req("Directory")
        val dirCol =
          if (dirEl.contains("${")) ElCompiler.template(dirEl)
          else lit(dirEl)
        val conflict = prop("Conflict Resolution Strategy", "fail")
        val mkdirs = Units.parseBool(
          prop("Create Missing Directories", "true"))
        val put = Sinks.putFileUdf(conflict, mkdirs)
        in.withColumn(FlowFrame.Relationship,
          put(dirCol,
            coalesce(FlowFrame.attr("filename"), col(FlowFrame.Uuid)),
            content.cast("binary")))

      case "SplitJson" =>
        // "JsonPath Expression" names the array to split (SplitJson.cpp:79);
        // "$" splits the content itself. Unparseable content / a path that
        // matches nothing routes the ORIGINAL flowfile to failure
        // (posexplode_outer keeps the row; plain posexplode would silently
        // drop it from the flow)
        val pathExpr = prop("JsonPath Expression", "$")
        val arrayJson =
          if (pathExpr == "$") content.cast("string")
          else get_json_object(content.cast("string"), pathExpr)
        // a null ELEMENT inside a matched array is data, rendered per
        // Null Value Representation (SplitJsonTests.cpp "null values");
        // only a null ARRAY (no match / not an array / invalid JSON)
        // routes the original FlowFile to failure
        val nullRepr = prop("Null Value Representation", "empty string") match {
          case "the string 'null'" => "null"
          case _ => ""
        }
        val elems = in
          .withColumn("__fragid", col(FlowFrame.Uuid))
          .withColumn("__arr", Content.splitJsonArray(arrayJson))
          .withColumn("__cnt", size(col("__arr")))
          .select(col("__fragid"), col("__cnt"), col(FlowFrame.Content).as("__orig"),
            posexplode_outer(
              when(col("__arr").isNotNull,
                transform(col("__arr"), e => coalesce(e, lit(nullRepr))))
            ).as(Seq("__idx", "__elem")))
        elems.select(
          // splits get deterministic forked identity; a failure row IS the
          // original FlowFile routed on, so it keeps the parent uuid
          when(col("__elem").isNull, col("__fragid"))
            .otherwise(Lineage.fragmentUuid(col("__fragid"), col("__idx")))
            .as(FlowFrame.Uuid),
          map_concat(
            map(
              lit(FlowFrame.FragmentAttrs.Identifier), col("__fragid"),
              lit(FlowFrame.FragmentAttrs.Index),
              coalesce(col("__idx"), lit(0)).cast("string"),
              lit(FlowFrame.FragmentAttrs.Count),
              greatest(col("__cnt"), lit(0)).cast("string")),
            when(col("__elem").isNotNull,
              Lineage.eventMap(Lineage.Fork, col("__fragid")))
              .otherwise(map().cast("map<string,string>")))
            .as(FlowFrame.Attributes),
          coalesce(col("__elem"), col("__orig")).as(FlowFrame.Content),
          FlowFrame.entryTime.as(FlowFrame.EntryDate),
          when(col("__elem").isNull, "failure")
            .otherwise("split").as(FlowFrame.Relationship))

      case "DefragmentText" =>
        // batch sweep supports Start-of-Message patterns; End-of-Message
        // needs cross-trigger state — use the streaming dispatch
        // (StatefulOps.defragmentText) for that mode
        require(prop("Pattern Location", "Start of Message") == "Start of Message",
          s"processor '${p.name}': batch DefragmentText supports " +
            "'Start of Message' only; run End-of-Message flows streaming")
        // origin-file key: path alone is a DIRECTORY (relative, shared by
        // sibling files — GetFile contract), so join it with filename
        val src = concat_ws("/",
          coalesce(FlowFrame.attr("path"), lit("")),
          coalesce(FlowFrame.attr("filename"), lit("")))
        // arrival order: the upstream splitter's fragment.index when
        // present (stable across unions and repartitions), else physical
        // row order as the last resort
        val ord = coalesce(
          FlowFrame.attr(FlowFrame.FragmentAttrs.Index).cast("long"),
          monotonically_increasing_id())
        val merged = SplitMerge.defragmentTextBatch(
          in.withColumn("__ord", ord),
          src, col("__ord"), content.cast("string"), req("Pattern"), "\n")
        merged.select(
          FlowFrame.newUuid.as(FlowFrame.Uuid),
          map(lit("defragment.source"), col("source").cast("string"))
            .as(FlowFrame.Attributes),
          col("message").as(FlowFrame.Content),
          FlowFrame.entryTime.as(FlowFrame.EntryDate),
          lit("success").as(FlowFrame.Relationship))

      case "PutTCP" =>
        // Hostname/Port are EL per FlowFile (PutTCP.h:55-67): a
        // ${tcp_port}-style property fans one processor over many servers
        val put = Sinks.putTcpUdf(delimProp("Outgoing Message Delimiter", "\n"))
        in.withColumn(FlowFrame.Relationship, put(content.cast("string"),
          ElCompiler.template(req("Hostname")),
          ElCompiler.template(req("Port")).try_cast("int")))

      case "PutUDP" =>
        val put = Sinks.putUdpUdf()
        in.withColumn(FlowFrame.Relationship, put(content.cast("string"),
          ElCompiler.template(req("Hostname")),
          ElCompiler.template(req("Port")).try_cast("int")))

      case "GetCouchbaseKey" | "PutCouchbaseKey" =>
        // the controller service names the cluster (CouchbaseClusterService
        // "Connection String"); offline that string keys the in-memory
        // stand-in store — a deployment swaps the factory for a Java-SDK
        // client and every routing/attribute behavior applies unchanged
        val svc = service(req("Couchbase Cluster Controller Service"))
        val conn = svc.properties.getOrElse("Connection String", svc.name)
        val factory: graft.sources.Couchbase.ClientFactory =
          () => graft.sources.Couchbase.InMemory(conn)
        val coords = graft.sources.Couchbase.Coords(
          prop("Bucket Name", "default"),
          prop("Scope Name", "_default"),
          prop("Collection Name", "_default"))
        // the Document Id property carries a bare ${attr} (per-row attr
        // read), a composite EL template (evaluated per row through the EL
        // compiler into a scratch attribute), or a literal (uniform)
        val (docIdAttr, docIdLit, elTmp) = props.get("Document Id") match {
          case Some(v) => graft.el.ElCompiler.soleAttributeRef(v) match {
            case Some(a) => (Some(a), None, false)
            case None if v.contains("${") => (Some(ElScratchAttr), None, true)
            case None => (None, Some(v), false)
          }
          case None => (None, None, false)
        }
        val prepared =
          if (elTmp) FlowFrame.withAttrs(in, Seq(ElScratchAttr ->
            ElCompiler.template(props("Document Id"))))
          else in
        val out =
          if (p.kind == "GetCouchbaseKey")
            graft.sources.Couchbase.getKey(prepared, factory, coords, docIdAttr,
              putValueToAttribute = props.get("Put Value to Attribute"),
              docIdLiteral = docIdLit)
          else
            graft.sources.Couchbase.putKey(prepared, factory, coords, docIdAttr,
              docIdLiteral = docIdLit)
        dropScratchAttr(out, elTmp)

      case "PutOPC" =>
        val parent = graft.sources.Opc.NodeId(
          prop("Parent node namespace index", "0").toInt,
          req("Parent node ID"))
        // Target node ID: bare ${attr} reads per row, composite EL
        // evaluates per row into a scratch attribute, literal is fixed
        val rawTarget = props.get("Target node ID")
        val soleRef = rawTarget.flatMap(graft.el.ElCompiler.soleAttributeRef)
        val elTmp = soleRef.isEmpty && rawTarget.exists(_.contains("${"))
        val targetAttr =
          if (elTmp) Some(ElScratchAttr) else soleRef
        val fixedTarget = rawTarget
          .filter(_ => targetAttr.isEmpty)
          .map(id => graft.sources.Opc.NodeId(
            prop("Target node namespace index", parent.nsIndex.toString).toInt, id))
        val prepared =
          if (elTmp) FlowFrame.withAttrs(in, Seq(ElScratchAttr ->
            ElCompiler.template(rawTarget.get)))
          else in
        dropScratchAttr(graft.sources.Opc.putOpc(prepared,
          () => graft.sources.Opc.InMemory(req("OPC server endpoint")),
          parent, prop("Value type", "String"),
          targetNode = fixedTarget, targetIdAttr = targetAttr,
          browseName = prop("Target node browse name", ""),
          targetNsIndex = props.get("Target node namespace index").map(_.toInt)),
          elTmp)

      case other => throw new IllegalArgumentException(
        s"processor class '$other' is not supported by the batch FlowRunner" +
          " (supported: GetFile, ListFile, QueryDatabaseTable, " +
          "GenerateFlowFile, TailFile, FetchFile, UpdateAttribute, " +
          "ExtractText, ReplaceText, HashContent, CompressContent, " +
          "AttributesToJSON, EvaluateJsonPath, AppendHostInfo, " +
          "JoltTransformJSON, ApplyTemplate, RouteOnAttribute, RouteText, " +
          "RetryFlowFile, Funnel, LogAttribute, SplitText, SplitContent, " +
          "SegmentContent, SplitJson, DefragmentText, MergeContent, " +
          "ConvertRecord, ExecuteProcess, InvokeHTTP, ExecuteSQL, PutSQL, " +
          "PutSplunkHTTP, QuerySplunkIndexingStatus, PostElasticsearch, " +
          "PushGrafanaLokiREST, " +
          "PutTCP, PutUDP, PutFile, GetCouchbaseKey, PutCouchbaseKey, " +
          "PutOPC, RunLlamaCppInference)")
    }
  }
}
