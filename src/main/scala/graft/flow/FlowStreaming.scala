package graft.flow

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.FlowFrame
import graft.streaming.FlowRuntime

/**
 * Streaming interpretation of a flow config — SURVEY §3.1/§2.10: the
 * source processor becomes a Structured Streaming source (TailFile →
 * TailFileSource with rotation state, Listen* → NetListenerSource,
 * GenerateFlowFile → rate), downstream processors compose as the same
 * lazy transforms the batch sweep uses (they are relationship-routed
 * column ops, agnostic to batch vs stream), and the terminal edge lands
 * in a relationship-partitioned sink — one query, one checkpoint, the
 * micro-batch as the session commit. The sink is Spark's exactly-once
 * file sink, so a sink root belongs to the one checkpoint that wrote it
 * (`run`, `runCron` and `runWithTerminalSink` refuse a fresh checkpoint
 * over a written root). The scheduling strategy/period of the SOURCE
 * processor picks the trigger (FlowRuntime.trigger).
 *
 * Scope: linear/branching DAGs with ONE source and ONE terminal
 * processor. Stateful fan-in (DefragmentText, MergeContent Bin-Pack)
 * dispatches to streaming/StatefulOps flatMapGroupsWithState stages,
 * keyed by the source's own sequence numbers for arrival order.
 */
object FlowStreaming {

  /** Assemble the flow as a streaming DataFrame ending at the single
    * terminal processor's routed output. The edges are wired by the same
    * walk as the batch sweep (FlowRunner.walk); only the per-processor
    * hook differs: the source becomes a stream, stateful stages dispatch
    * to flatMapGroupsWithState, everything else is the batch dispatch. */
  def assemble(spark: SparkSession, flow: FlowDef): DataFrame = {
    val source = endpoint(flow, "source")
    val terminal = endpoint(flow, "terminal")
    // EXPLICIT queue limits on the source's outgoing connection(s) become
    // per-trigger admission control (SURVEY §2.10: "max work queue size" →
    // a maxOffsetsPerTrigger-style rate limit; the strictest edge wins).
    // swapThreshold has no Spark analogue — spill subsumes it.
    val srcConns = flow.connections.filter(_.sourceId == source.id)
    val limits = QueueLimits(
      maxCount = srcConns.flatMap(_.maxQueueSize).minOption,
      maxBytes = srcConns.flatMap(_.maxQueueDataSize).minOption)
    // a stream has no next trigger to drain a broken cycle's queue into,
    // so any edge the walk drops rejects the flow
    def cycle(procs: Seq[ProcessorDef]): Nothing =
      throw new IllegalArgumentException("unresolvable flow (cycle?): " +
        procs.map(_.name).distinct.mkString(","))
    val walked = FlowRunner.walk(flow) {
      case (p, _) if p.id == source.id => streamSource(spark, p, limits)
      case (p, Some(in)) => statefulProcessor(spark, p, in)
        .getOrElse(Processors.apply(spark, p, Some(in), flow.services))
      // every edge into p was dropped: p sits on a cycle
      case (p, None) => cycle(Seq(p))
    }
    if (walked.dropped.nonEmpty)
      cycle(walked.dropped.map(c => flow.processor(c.destinationId)))
    walked.outputs(terminal.id)
  }

  /** The flow's one processor with no incoming (`end` = "source") or no
    * outgoing ("terminal") connection. */
  private def endpoint(flow: FlowDef, end: String): ProcessorDef = {
    val linked = flow.connections.map(c =>
      if (end == "source") c.destinationId else c.sourceId).toSet
    flow.processors.filterNot(p => linked(p.id)) match {
      case Seq(p) => p
      case other => throw new IllegalArgumentException(
        s"streaming flow needs exactly one $end, got ${other.map(_.name)}")
    }
  }

  /** Run the assembled flow into `outRoot` (relationship-partitioned
    * parquet) with the source's scheduling strategy as the trigger;
    * drains available data and returns the running query. */
  def run(spark: SparkSession, flow: FlowDef, outRoot: String,
          checkpoint: String): StreamingQuery =
    drainInto(assemble(spark, flow), outRoot, checkpoint)

  /** Drain `routed` into the relationship sink at `outRoot`, once the
    * root is known to belong to `checkpoint`. The file sink skips every
    * batch id its `_spark_metadata` log already holds, so a fresh
    * checkpoint (batch ids from 0) over a root that another query wrote
    * would silently drop data: refuse that start. A checkpoint that has
    * run before has a `commits` log and passes, as do first runs. */
  private def drainInto(routed: DataFrame, outRoot: String,
                        checkpoint: String): StreamingQuery = {
    val conf = routed.sparkSession.sessionState.newHadoopConf()
    def exists(p: String): Boolean = {
      val path = new org.apache.hadoop.fs.Path(p)
      path.getFileSystem(conf).exists(path)
    }
    if (exists(s"$outRoot/_spark_metadata") && !exists(s"$checkpoint/commits"))
      throw new IllegalStateException(
        s"sink root $outRoot holds another query's _spark_metadata log but " +
          s"checkpoint $checkpoint has never run: the file sink would skip " +
          "the batch ids that log already holds and lose their rows. Resume " +
          "with the checkpoint that wrote the root, or write to a new root.")
    FlowRuntime.runAvailable(
      FlowRuntime.relationshipSink(routed, outRoot), checkpoint)
  }

  /**
   * CRON_DRIVEN flow execution (CronDrivenSchedulingAgent.cpp — the agent
   * sleeps until utils::Cron's next trigger instant, then runs one
   * onTrigger sweep): each cron instant fires ONE AvailableNow drain
   * against a persistent checkpoint, so a drain picks up exactly what
   * arrived since the previous instant and NOTHING runs between instants.
   * The source processor's `scheduling period` carries the Quartz
   * expression. `maxDrains` bounds the loop (the reference agent runs
   * until the flow stops); returns each drain's scheduled fire instant,
   * for observability and the schedule-adherence test. Driver-side
   * arithmetic + sleep only — the drain itself is the same distributed
   * AvailableNow run every other strategy uses.
   */
  def runCron(spark: SparkSession, flow: FlowDef, outRoot: String,
              checkpoint: String, maxDrains: Int): Seq[java.time.LocalDateTime] = {
    val source = endpoint(flow, "source")
    require(source.schedulingStrategy == "CRON_DRIVEN",
      s"runCron needs a CRON_DRIVEN source, got ${source.schedulingStrategy}")
    val cron = graft.streaming.Cron(source.schedulingPeriod)
    (0 until maxDrains).map { _ =>
      val now = java.time.LocalDateTime.now()
      val next = cron.calculateNextTrigger(now).getOrElse(
        throw new IllegalArgumentException(
          s"cron '${source.schedulingPeriod}' never fires again"))
      val delay = java.time.Duration.between(now, next).toMillis
      if (delay > 0) Thread.sleep(delay)
      drainInto(assemble(spark, flow), outRoot, checkpoint).stop()
      next
    }
  }

  /**
   * Run with the sink chosen by the TERMINAL processor: PutFile → its
   * Directory as the relationship-partitioned root; PublishKafka /
   * PublishMQTT → the connector writeStream with the property surface
   * mapped onto producer options (connector jar required at runtime).
   * Any other terminal falls back to `outRootFallback`.
   */
  def runWithTerminalSink(spark: SparkSession, flow: FlowDef,
                          checkpoint: String,
                          outRootFallback: String): StreamingQuery = {
    val terminal = endpoint(flow, "terminal")
    val props = terminal.properties
    terminal.kind match {
      case "PutFile" =>
        // the terminal PutFile's own output frame carries per-row write
        // results already (Processors dispatch); its DIRECTORY becomes
        // the partitioned sink root for the flow's upstream edge instead,
        // which is the scan-once bulk-write shape at scale
        drainInto(assembleUpTo(spark, flow, terminal), props("Directory"),
          checkpoint)
      case "PublishKafka" =>
        val upstream = assembleUpTo(spark, flow, terminal)
        val opts = graft.sources.Kafka.publishOptions(
          graft.sources.Kafka.PublishProps(
            brokers = props("Known Brokers"),
            topic = props("Topic Name"),
            deliveryGuarantee = props.getOrElse("Delivery Guarantee", "1"),
            compressCodec = props.getOrElse("Compress Codec", "none")))
        val q = upstream
          .select(col(FlowFrame.Uuid).cast("binary").as("key"),
            col(FlowFrame.Content).cast("binary").as("value"))
          .writeStream.format("kafka").options(opts)
          .option("checkpointLocation", checkpoint).start()
        q.processAllAvailable(); q
      case _ =>
        run(spark, flow, outRootFallback, checkpoint)
    }
  }

  /** Assemble the flow but stop at (exclude) the given terminal — its
    * INPUT edge is the stream handed to a native sink. */
  private def assembleUpTo(spark: SparkSession, flow: FlowDef,
                           terminal: ProcessorDef): DataFrame = {
    val trimmed = FlowDef(flow.name,
      flow.processors.filterNot(_.id == terminal.id),
      flow.connections.filterNot(_.destinationId == terminal.id),
      flow.services)
    val upstreamOut = assemble(spark, trimmed)
    val rels = flow.connections.filter(_.destinationId == terminal.id)
      .flatMap(_.relationships)
    if (rels.isEmpty) upstreamOut
    else upstreamOut.filter(col(FlowFrame.Relationship).isin(rels: _*))
  }

  /** Arrival order within a stateful stage's key: the source's own
    * sequence (tail line offset / listener seq) —
    * monotonically_increasing_id is not available on streaming frames. */
  private val arrivalOrder: Column = coalesce(
    FlowFrame.attr("tailfile.lineOffset"), FlowFrame.attr("net.seq"),
    lit("0")).cast("long")

  /** Stateful processors that only exist in streaming mode — these use
    * flatMapGroupsWithState (streaming/StatefulOps), so the batch dispatch
    * cannot host them; None falls through to Processors.apply. */
  private def statefulProcessor(spark: SparkSession, p: ProcessorDef,
                                in: DataFrame): Option[DataFrame] = {
    import spark.implicits._
    val props = p.properties
    def prop(name: String, default: String): String =
      props.getOrElse(name, default)
    p.kind match {
      case "DefragmentText" =>
        // the reference TailFile keeps the delimiter in each FlowFile's
        // content (TailFile.cpp:134) and DefragmentText concatenates
        // payloads raw — our tail source strips the '\n', so restore it
        // for tail-fed fragments to reassemble the original text
        val contentCol = when(FlowFrame.attr("tailfile.lineOffset").isNotNull,
          concat(col(FlowFrame.Content).cast("string"), lit("\n")))
          .otherwise(col(FlowFrame.Content).cast("string"))
        // source key = filename attr (the per-file reassembly unit)
        val frags = in.select(
          coalesce(FlowFrame.attr("filename"), lit("default")).as("source"),
          arrivalOrder.as("ord"),
          contentCol.as("content"),
          lit(-1L).as("offset"),
          col(FlowFrame.Uuid).cast("string").as("uuid"))
          .as[graft.streaming.StatefulOps.Fragment]
        val msgs = graft.streaming.StatefulOps.defragmentText(frags,
          props("Pattern"),
          maxBufferAgeMs = props.get("Max Buffer Age")
            .map(Units.parseDurationMs).getOrElse(0L),
          maxBufferBytes = props.get("Max Buffer Size")
            .map(Units.parseBytes).getOrElse(0L),
          patternAtStart =
            prop("Pattern Location", "Start of Message") != "End of Message")
        // JOIN lineage (Provenance.h JOIN): the reassembled message's
        // parents are the member fragment uuids — same event shape as the
        // batch MergeContent defragment path
        Some(msgs.toDF().select(
          FlowFrame.newUuid.as(FlowFrame.Uuid),
          map(lit("defragment.source"), col("source"),
            lit("defragment.fragment.count"),
            col("fragmentCount").cast("string"),
            lit(Lineage.EventAttr), lit(Lineage.Join),
            lit(Lineage.ParentsAttr), col("parents"))
            .as(FlowFrame.Attributes),
          col("message").as(FlowFrame.Content),
          FlowFrame.entryTime.as(FlowFrame.EntryDate),
          col("relationship")))

      case "DetectDuplicate" =>
        // Apache NiFi's public DetectDuplicate surface over the stateful
        // dedup op: Cache Entry Identifier (EL; default = content md5)
        // keys the state, Age Off Duration expires idle keys
        val keyCol = props.get("Cache Entry Identifier")
          .map(el => graft.el.ElCompiler.template(el))
          .getOrElse(md5(col(FlowFrame.Content).cast("binary")))
        val keyed = in.select(keyCol.cast("string").as("key"),
          arrivalOrder.as("ord"),
          col(FlowFrame.Content).cast("string").as("content"),
          col(FlowFrame.Uuid).cast("string").as("uuid"))
          .as[graft.streaming.StatefulOps.Keyed]
        val out = graft.streaming.StatefulOps.detectDuplicates(keyed,
          ageMs = props.get("Age Off Duration")
            .map(Units.parseDurationMs).getOrElse(0L))
        Some(out.toDF().select(
          col("uuid").as(FlowFrame.Uuid),
          map(lit("detectduplicate.key"), col("key"),
            lit("detectduplicate.seen"), col("seen").cast("string"))
            .as(FlowFrame.Attributes),
          col("content").as(FlowFrame.Content),
          FlowFrame.entryTime.as(FlowFrame.EntryDate),
          col("relationship")))

      case "MergeContent"
        if prop("Merge Strategy", "Defragment") == "Bin-Packing Algorithm" =>
        val entries = in.select(
          coalesce(props.get("Correlation Attribute Name")
            .map(FlowFrame.attr).getOrElse(lit("")), lit("")).as("correlation"),
          arrivalOrder.as("ord"),
          col(FlowFrame.Content).cast("string").as("content"),
          col(FlowFrame.Uuid).cast("string").as("uuid"))
          .as[graft.streaming.StatefulOps.Entry]
        val bins = graft.streaming.StatefulOps.mergeContentBins(entries,
          maxEntries = prop("Maximum Number of Entries", "1000").toInt,
          maxBinAgeMs = props.get("Max Bin Age")
            .map(Units.parseDurationMs).getOrElse(0L),
          demarcator = prop("Demarcator", ""),
          // BinFiles.h:190-206 size/entry thresholds
          maxBinBytes = props.get("Maximum Group Size")
            .map(Units.parseBytes).getOrElse(0L),
          minEntries = prop("Minimum Number of Entries", "1").toInt,
          minBinBytes = props.get("Minimum Group Size")
            .map(Units.parseBytes).getOrElse(0L))
        // JOIN lineage: the merged bin's parents are its member uuids —
        // the same event shape the batch bin-pack path stamps
        Some(bins.toDF().select(
          FlowFrame.newUuid.as(FlowFrame.Uuid),
          map(lit("merge.count"), col("count").cast("string"),
            lit("merge.correlation"), col("correlation"),
            lit(Lineage.EventAttr), lit(Lineage.Join),
            lit(Lineage.ParentsAttr), col("parents"))
            .as(FlowFrame.Attributes),
          col("merged").as(FlowFrame.Content),
          FlowFrame.entryTime.as(FlowFrame.EntryDate),
          col("relationship")))

      case _ => None
    }
  }

  /** Back-pressure limits of the source's outgoing connection, applied as
    * per-trigger admission control where the source supports it. */
  private[flow] case class QueueLimits(maxCount: Option[Long],
                                       maxBytes: Option[Long])

  /** Source-processor → streaming DataFrame in the FlowFrame shape. */
  private def streamSource(spark: SparkSession, p: ProcessorDef,
                           limits: QueueLimits): DataFrame = {
    val props = p.properties
    def prop(name: String, default: String): String =
      props.getOrElse(name, default)
    p.kind match {
      case "TailFile" =>
        val caps = limits.maxCount.map("maxLinesPerTrigger" -> _.toString) ++
          limits.maxBytes.map("maxBytesPerTrigger" -> _.toString)
        Processors.tailFile(p, (format, opts) =>
          spark.readStream.format(format).options(opts ++ caps).load())

      case "ListenSyslog" =>
        // socket listener + protocol-dispatch parse (ListenSyslog.cpp:67,81):
        // RFC5424-first, RFC3164 fallback, else the `invalid` relationship;
        // parsed fields land as syslog.* attributes when "Parse Messages"
        val listened = spark.readStream
          .format("graft.sources.NetListenerSource")
          .option("name", p.id)
          .option("protocol", prop("Protocol", "UDP").toLowerCase)
          .option("port", prop("Listening Port", "0"))
          .option("maxQueueSize", prop("Max Size of Message Queue", "10000"))
          .load()
        val base = FlowFrame.wrap(listened, "message", Seq("sender"))
        if (!Units.parseBool(prop("Parse Messages", "true")))
          base.withColumn(FlowFrame.Relationship, lit("success"))
        else {
          val parsed = graft.ops.Syslog.parseSyslog(
            base.drop(FlowFrame.Relationship), col(FlowFrame.Content))
          val fields = Seq("format", "priority", "version", "timestamp",
            "hostname", "app_name", "procid", "msgid", "msg")
          FlowFrame.withAttrs(parsed,
            fields.map(f => s"syslog.$f" -> col(s"syslog_$f")))
            .drop(fields.map(f => s"syslog_$f"): _*)
        }

      case "ConsumeKafka" =>
        // property surface → connector options (sources/Kafka.scala); the
        // kafka connector jar must be on the classpath (absent offline)
        val opts = graft.sources.Kafka.consumeOptions(
          graft.sources.Kafka.ConsumeProps(
            brokers = props("Kafka Brokers"),
            topicNames = props("Topic Names").split(",").map(_.trim).toSeq,
            topicNameFormat = prop("Topic Name Format", "Names"),
            groupId = prop("Group ID", ""),
            offsetReset = prop("Offset Reset", "latest"),
            honorTransactions =
              Units.parseBool(prop("Honor Transactions", "true")),
            maxPollRecords = prop("Max Poll Records", "10000").toInt))
        val consumed = graft.sources.Kafka.envelopeAttrs(
          spark.readStream.format("kafka").options(opts).load())
        FlowFrame.wrap(
          consumed.withColumn("content", col("value").cast("string")),
          "content", Seq("kafka.topic", "kafka.partition", "kafka.offset"))
          .withColumn(FlowFrame.Relationship, lit("success"))

      case "ListenTCP" | "ListenUDP" | "ListenHTTP" =>
        val protocol = p.kind.stripPrefix("Listen").toLowerCase
        val listenBase = spark.readStream
          .format("graft.sources.NetListenerSource")
          .option("name", p.id)
          .option("protocol", protocol)
          .option("port", prop("Listening Port", prop("Port", "0")))
          .option("maxQueueSize",
            prop("Max Size of Message Queue", "10000"))
        // an explicit connection count limit caps each micro-batch; a
        // data-size limit has no per-message byte ledger in this queue
        // source, so only the count plane maps here
        val listened = limits.maxCount
          .map(n => listenBase.option("maxRowsPerTrigger", n.toString))
          .getOrElse(listenBase)
          .option("headersAttrRegex",
            prop("HTTP Headers to receive as Attributes (Regex)", ""))
          // Message Delimiter arrives with literal backslash escapes in
          // plain-YAML spellings ('\n'); Consume Delimiter default true
          // (ListenTCP.h:71-79)
          .option("delimiter", prop("Message Delimiter", "\n")
            .replace("\\n", "\n").replace("\\r", "\r").replace("\\t", "\t"))
          .option("consumeDelimiter", prop("Consume Delimiter", "true"))
          .load()
        // ListenHTTP: captured request headers become attributes
        // (HeadersAsAttributesRegex, ListenHTTPTests.cpp:354-394). wrap()
        // projects away extra columns, so the http path builds the
        // FlowFrame shape directly with the header map merged in.
        val withHeaders =
          if (protocol != "http")
            FlowFrame.wrap(listened.withColumn("net.seq",
              col("seq").cast("string")), "message", Seq("sender", "net.seq"))
          else listened.select(
            FlowFrame.newUuid.as(FlowFrame.Uuid),
            map_concat(
              map(lit("sender"), col("sender").cast("string"),
                lit("net.seq"), col("seq").cast("string")),
              coalesce(col("headers"),
                map_from_arrays(array().cast("array<string>"),
                  array().cast("array<string>"))))
              .as(FlowFrame.Attributes),
            col("message").as(FlowFrame.Content),
            FlowFrame.entryTime.as(FlowFrame.EntryDate))
        withHeaders.withColumn(FlowFrame.Relationship, lit("success"))

      case "GenerateFlowFile" =>
        // the batch generator's content rule over the rate source's ids
        val g = new Processors.Generate(p)
        val ids = spark.readStream.format("rate")
          .option("rowsPerSecond", g.batchSize).load()
          .select(col("value").as("file_id"))
        FlowFrame.wrap(ids.select(col("file_id"), g.content.as("content")),
          "content", Seq("file_id"))
          .withColumn(FlowFrame.Relationship, lit("success"))

      case other => throw new IllegalArgumentException(
        s"'$other' is not a supported streaming source " +
          "(supported: TailFile, ListenTCP, ListenUDP, ListenHTTP, " +
          "GenerateFlowFile)")
    }
  }
}
