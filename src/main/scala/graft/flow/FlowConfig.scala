package graft.flow

import scala.jdk.CollectionConverters._

/**
 * Flow configuration model + parsers — SURVEY §3.1 (the reference's user
 * API: a YAML "MiNiFi Config Version: 3" document or the JSON `rootGroup`
 * schema describing processors and connections; examples/
 * getfile_putfile_config.{yml,json}, parser
 * libminifi/src/core/flow/FlowSchema.cpp).
 *
 * The model is engine-neutral: a processor is (class, properties,
 * auto-terminated relationships); a connection is (source id,
 * selected relationships, destination id). FlowRunner maps this onto
 * DataFrame assembly.
 *
 * Process groups and ports: groups parse as a tree and flatten into the
 * root with group membership retained (`groupIdx`), because connection
 * endpoints resolve GROUP-SCOPED exactly like ProcessGroup::addConnection
 * (libminifi/src/core/ProcessGroup.cpp:412-474): a connection may reach its
 * own group's processors, its own group's ports (input as source, output as
 * destination), and its DIRECT child groups' ports (output as source, input
 * as destination). Everything else leaves the endpoint unresolved with the
 * reference's exact error line recorded in [[FlowDef.resolutionErrors]] —
 * the connection stays parsed but dangling, matching the reference's
 * null-source/destination behavior. Remote-process-group ports are
 * addressable from their declaring group like plain processors
 * (ProcessGroup.h:163-177: findProcessor always descends into RPG children).
 */
case class ProcessorDef(
    id: String,
    name: String,
    clazz: String,
    schedulingStrategy: String,
    schedulingPeriod: String,
    autoTerminated: Set[String],
    properties: Map[String, String],
    /** Index into the parse-time group tree (0 = root). */
    groupIdx: Int = 0,
    /** Multi-valued properties (the JSON schema's property value
      * sequences, FlowJsonTests.cpp "Property value sequences");
      * `properties` carries the first value. */
    propertyLists: Map[String, Seq[String]] = Map.empty) {
  /** Bare class name: the reference accepts several package spellings of
    * the same processor (org.apache.nifi.processors.standard.X,
    * org.apache.nifi.minifi.processors.X); behavior keys off the suffix. */
  def kind: String = clazz.substring(clazz.lastIndexOf('.') + 1)
  /** A required property — fails with the processor name and property key
    * (the reference validates these at onSchedule; a bare Map NoSuchElement
    * would name neither). */
  def required(key: String): String = properties.getOrElse(key,
    throw new IllegalArgumentException(
      s"processor '$name' ($kind) is missing required property '$key'"))
}

/**
 * Connection queue limits — the StructuredConnectionParser surface
 * (libminifi/src/core/flow/StructuredConnectionParser.cpp:74-205).
 * Every accessor there is LENIENT for backward compatibility: an invalid
 * value logs and falls back to the default instead of failing the flow
 * load (YamlConnectionParserTest.cpp "values of incorrect format" /
 * "known incorrect formats" sections) — the parse helpers in [[Units]]
 * mirror that with Option-returning variants.
 */
case class ConnectionDef(
    id: String,
    name: String,
    sourceId: String,
    relationships: Seq[String],
    destinationId: String,
    expirationMs: Option[Long],
    // "max work queue size": plain integral only ("2 KB" is INVALID here
    // and falls back — parseIntegral, StructuredConnectionParser.cpp:77).
    // None = not explicitly configured; the REFERENCE default (2000,
    // Connection.h:44) still answers queueSizeLimit, but only an explicit
    // value engages streaming admission control — inheriting NiFi's
    // implicit 2000 would shred micro-batches at scale for flows that
    // never asked for back pressure
    maxQueueSize: Option[Long] = None,
    // "max work queue data size": data-size parse (the NiFi unit quirk:
    // "12 MB" is 12 MiB), default 100_MB = 100,000,000 (decimal literal,
    // Connection.h:45 — the default and the unit parse intentionally
    // disagree about what "MB" means, preserved as-is)
    maxQueueDataSize: Option[Long] = None,
    // "swap threshold": data-size parse, default 0 (no swap). Parsed for
    // parity; a Spark runtime has no FlowFile swap — shuffle/state spill
    // subsumes it (documented in COVERAGE.md §2.10)
    swapThreshold: Long = 0L,
    // "drop empty": toBool.value_or(false) — "sup"/"NULL" are false
    dropEmpty: Boolean = false,
    groupIdx: Int = 0) {
  /** The effective back-pressure limits with the reference defaults. */
  def queueSizeLimit: Long =
    maxQueueSize.getOrElse(ConnectionDef.DefaultQueueSize)
  def queueDataSizeLimit: Long =
    maxQueueDataSize.getOrElse(ConnectionDef.DefaultQueueDataSize)
}

object ConnectionDef {
  /** Connection.h:44-45. */
  val DefaultQueueSize: Long = 2000L
  val DefaultQueueDataSize: Long = 100000000L
}

/** Controller service (SSL contexts, record readers/writers, cluster
  * clients — FlowSchema.cpp controller service plane). Parsed so
  * processors can resolve service-typed properties by id/name. */
case class ServiceDef(
    id: String,
    name: String,
    clazz: String,
    properties: Map[String, String])

/** One parameter of a parameter context (FlowSchema parameters plane).
  * Sensitive values arrive property-encrypted in the reference and are
  * decrypted with the configured cipher; this engine has no config
  * cipher, so the value is carried as-is and the sensitive flag only
  * drives the reference's reference-rules (a sensitive parameter cannot
  * feed a non-sensitive property and vice versa —
  * ParameterTokenParser.cpp:101-113). */
case class ParameterDef(name: String, value: String,
                        sensitive: Boolean = false)

/** A named parameter context with ordered inheritance
  * (ParameterContext.cpp:29-40: own parameters first, then the inherited
  * contexts in declaration order, depth-first). */
case class ParameterContextDef(name: String, parameters: Seq[ParameterDef],
                               inherits: Seq[String] = Nil)

case class FlowDef(
    name: String,
    processors: Seq[ProcessorDef],
    connections: Seq[ConnectionDef],
    services: Seq[ServiceDef] = Nil,
    parameterContexts: Seq[ParameterContextDef] = Nil,
    /** Reference-format error lines for endpoints that failed group-scoped
      * resolution (ProcessGroup.cpp:428-463) and ignored invalid connection
      * nodes (StructuredConfiguration.cpp:690-693). The affected
      * connection's endpoint id is cleared so it never matches. */
    resolutionErrors: Seq[String] = Nil) {
  def processor(id: String): ProcessorDef =
    processors.find(p => p.id == id || p.name == id).getOrElse(
      throw new IllegalArgumentException(s"no processor with id/name '$id'"))
  def service(id: String): ServiceDef =
    services.find(s => s.id == id || s.name == id).getOrElse(
      throw new IllegalArgumentException(s"no controller service '$id'"))
}

object FlowConfig {

  /** Raw per-group parse output before resolution. `ports` holds the
    * group's LOCAL ports (id → isInput); RPG ports land directly in
    * `procs` as RemoteProcessGroupPort processors. */
  private case class RawGroup(
      idx: Int,
      parentIdx: Int,
      paramContextName: Option[String],
      procs: Seq[ProcessorDef],
      ports: Map[String, Boolean],
      conns: Seq[RawConn],
      services: Seq[ServiceDef])

  private case class RawConn(
      base: ConnectionDef,
      sourceIdKey: Option[String], sourceNameKey: Option[String],
      destIdKey: Option[String], destNameKey: Option[String],
      explicitRels: Boolean)

  /** Explicit component ids share ONE uniqueness namespace across the
    * whole document — processors, funnels, ports, connections, remote
    * process groups, their ports, and controller services
    * (StructuredConfiguration::addNewId, exercised by
    * YamlConfigurationTests.cpp "Test UUID duplication checks"). */
  private final class IdRegistry {
    private val seen = collection.mutable.Set[String]()
    def register(id: String): String = {
      if (id.nonEmpty && !seen.add(id))
        throw new IllegalArgumentException(
          s"General Operation: UUID $id is duplicated in the flow configuration")
      id
    }
  }

  /** The key schema of one flow-config dialect, like the reference's
    * FlowSchema (libminifi/src/core/flow/FlowSchema.cpp): every key the
    * group walk reads, so YAML and NiFi JSON share ONE walk and differ
    * only here. A `Seq` field lists alternative spellings — the first
    * key with a value wins, except that `remoteGroups` reads every list;
    * `Nil` means the dialect has no such key. A `...Path` field is a key
    * path from its node: YAML's flat `source id` against JSON's nested
    * `source` / `id` is the one structural difference. */
  private final case class Dialect(
      flowNamePath: Seq[String], rootGroupPath: Seq[String],
      parameterContexts: String, inheritedContexts: String,
      parameters: String, parameterContextName: String,
      id: String, processors: String, processorClass: String,
      schedulingStrategy: String, schedulingPeriod: String,
      autoTerminated: String, properties: String, funnels: String,
      inputPorts: String, outputPorts: String,
      remoteGroups: Seq[String], remoteUrl: Seq[String],
      remotePortTargetId: Seq[String],
      connections: String, relationships: Seq[String], expiration: String,
      queueSize: String, queueDataSize: String, swapThreshold: Seq[String],
      dropEmpty: String,
      sourceIdPath: Seq[String], sourceNamePath: Seq[String],
      destinationIdPath: Seq[String], destinationNamePath: Seq[String],
      services: String, serviceClass: Seq[String], childGroups: String)

  /** YAML "MiNiFi Config Version: 3": the document itself is the root
    * group. */
  private val Yaml = Dialect(
    flowNamePath = Seq("Flow Controller", "name"), rootGroupPath = Nil,
    parameterContexts = "Parameter Contexts",
    inheritedContexts = "Inherited Parameter Contexts",
    parameters = "Parameters", parameterContextName = "Parameter Context Name",
    id = "id", processors = "Processors", processorClass = "class",
    schedulingStrategy = "scheduling strategy",
    schedulingPeriod = "scheduling period",
    autoTerminated = "auto-terminated relationships list",
    properties = "Properties", funnels = "Funnels",
    inputPorts = "Input Ports", outputPorts = "Output Ports",
    remoteGroups = Seq("Remote Processing Groups", "Remote Process Groups"),
    remoteUrl = Seq("url"), remotePortTargetId = Nil,
    connections = "Connections",
    // v3 spells "source relationship name" (single) or "source
    // relationship names" (list OR bare scalar); empty values fall through
    // to the funnel/port implicit relationship
    // (StructuredConnectionParser.cpp:55-72)
    relationships = Seq("source relationship name", "source relationship names"),
    expiration = "flowfile expiration", queueSize = "max work queue size",
    queueDataSize = "max work queue data size",
    swapThreshold = Seq("swap threshold"), dropEmpty = "drop empty",
    sourceIdPath = Seq("source id"), sourceNamePath = Seq("source name"),
    destinationIdPath = Seq("destination id"),
    destinationNamePath = Seq("destination name"),
    services = "Controller Services", serviceClass = Seq("class", "type"),
    childGroups = "Process Groups")

  /** The NiFi JSON `rootGroup` schema (the examples' .json configs). */
  private val NiFiJson = Dialect(
    flowNamePath = Seq("rootGroup", "name"), rootGroupPath = Seq("rootGroup"),
    parameterContexts = "parameterContexts",
    inheritedContexts = "inheritedParameterContexts",
    parameters = "parameters", parameterContextName = "parameterContextName",
    id = "identifier", processors = "processors", processorClass = "type",
    schedulingStrategy = "schedulingStrategy",
    schedulingPeriod = "schedulingPeriod",
    autoTerminated = "autoTerminatedRelationships",
    properties = "properties", funnels = "funnels",
    inputPorts = "inputPorts", outputPorts = "outputPorts",
    remoteGroups = Seq("remoteProcessGroups"),
    // "targetUris" (single value OR array) takes precedence over
    // "targetUri" (FlowSchema.cpp:156 — rpg_url = {targetUris, targetUri})
    remoteUrl = Seq("targetUris", "targetUri"),
    remotePortTargetId = Seq("targetId"),
    connections = "connections", relationships = Seq("selectedRelationships"),
    // JSON schema spellings (FlowSchema.cpp:115-124); the JSON plane has
    // no swap-threshold key
    expiration = "flowFileExpiration", queueSize = "backPressureObjectThreshold",
    queueDataSize = "backPressureDataSizeThreshold", swapThreshold = Nil,
    dropEmpty = "dropEmpty",
    sourceIdPath = Seq("source", "id"), sourceNamePath = Seq("source", "name"),
    destinationIdPath = Seq("destination", "id"),
    destinationNamePath = Seq("destination", "name"),
    services = "controllerServices", serviceClass = Seq("type"),
    childGroups = "processGroups")

  /** Parse the YAML "MiNiFi Config Version: 3" document. */
  def parseYaml(text: String): FlowDef =
    walkFlow(asMap(new org.yaml.snakeyaml.Yaml().load[Object](text)), Yaml)

  /** Parse the JSON `rootGroup` schema (the examples' .json configs). */
  def parseJson(text: String): FlowDef = {
    val doc = readJson(text)
    if (!doc.contains("rootGroup"))
      throw new IllegalArgumentException("missing rootGroup")
    walkFlow(doc, NiFiJson)
  }

  /** Adaptive payload dispatch (AdaptiveConfiguration.cpp, exercised by
    * AdaptiveConfigurationTests.cpp): a JSON payload carries EITHER the
    * NiFi `rootGroup` schema or the YAML key dialect serialized as JSON
    * ("Flow Controller"/"Processors" keys in a JSON document — JSON is
    * valid YAML, so the reference's yaml fallback parses it with the
    * yaml schema); a non-JSON payload is YAML. A payload valid in
    * neither dialect propagates the YAML parser's error, like the
    * reference's "not valid json … not valid yaml" double log. */
  def parse(text: String): FlowDef = {
    if (!text.dropWhile(_.isWhitespace).startsWith("{")) return parseYaml(text)
    val doc = try readJson(text) catch {
      case _: com.fasterxml.jackson.core.JacksonException => return parseYaml(text)
    }
    walkFlow(doc, if (doc.contains("rootGroup")) NiFiJson else Yaml)
  }

  private def readJson(text: String): Node = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // a couple of the reference's shipped configs carry trailing commas;
    // its rapidjson parse is permissive there, so be equally lenient
    mapper.configure(
      com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_TRAILING_COMMA, true)
    mapper.configure(
      com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_COMMENTS, true)
    asMap(mapper.readValue(text, classOf[java.util.Map[String, Object]]))
  }

  /** The one group walk (StructuredConfiguration's structured parse),
    * reading every key through the dialect's table. */
  private def walkFlow(doc: Node, d: Dialect): FlowDef = {
    val contexts = parseContextsPlane(doc, d)
    val ids = new IdRegistry
    val groups = collection.mutable.ArrayBuffer[RawGroup]()
    def walk(g: Node, parentIdx: Int): Unit = {
      val idx = groups.length
      groups += null // reserve position, children get correct idx
      // a component's id falls back to its name and vice versa
      def idName(n: Node): (String, String) = {
        val id = ids.register(str(n, d.id, ""))
        val name = str(n, "name", id)
        (if (id.isEmpty) name else id, name)
      }
      def component(n: Node, clazz: String,
                    props: Map[String, String] = Map.empty): ProcessorDef = {
        val (id, name) = idName(n)
        ProcessorDef(id, name, clazz, "TIMER_DRIVEN", "1 sec", Set.empty,
          props, idx)
      }
      val procs = Seq.newBuilder[ProcessorDef]
      nodes(g, d.processors).foreach { p =>
        val (firstVals, lists) = propPlanes(p.getOrElse(d.properties, null))
        procs += component(p, str(p, d.processorClass, "")).copy(
          schedulingStrategy = str(p, d.schedulingStrategy, "TIMER_DRIVEN"),
          schedulingPeriod = str(p, d.schedulingPeriod, "1 sec"),
          autoTerminated = asList(p.getOrElse(d.autoTerminated, null))
            .map(v => if (v == null) "" else v.toString).toSet,
          properties = firstVals, propertyLists = lists)
      }
      nodes(g, d.funnels).foreach(f => procs += component(f, "Funnel"))
      val ports = collection.mutable.LinkedHashMap[String, Boolean]()
      Seq(d.inputPorts -> true, d.outputPorts -> false).foreach {
        case (key, isInput) => nodes(g, key).foreach { o =>
          val port = component(o, if (isInput) "InputPort" else "OutputPort")
          ports(port.id) = isInput
          procs += port
        }
      }
      // RPG ports: reachable from the declaring group like plain
      // processors (ProcessGroup.h findProcessor's RPG descent)
      d.remoteGroups.flatMap(nodes(g, _)).foreach { r =>
        ids.register(str(r, d.id, ""))
        val url = values(r, d.remoteUrl).filter(_.nonEmpty).mkString(",")
        (nodes(r, d.inputPorts) ++ nodes(r, d.outputPorts)).foreach { o =>
          procs += component(o, "RemoteProcessGroupPort",
            propPlanes(o.getOrElse(d.properties, null))._1 ++
              first(o, d.remotePortTargetId: _*).map("Port UUID" -> _) ++
              Some("url" -> url).filter(_._2.nonEmpty))
        }
      }
      val conns = asList(g.getOrElse(d.connections, null)).map {
        case c0: java.util.Map[_, _] =>
          val c = asMap(c0)
          val rels = values(c, d.relationships)
          RawConn(
            ConnectionDef(
              id = ids.register(str(c, d.id, "")),
              name = str(c, "name", str(c, d.id, "")),
              sourceId = "", relationships = rels, destinationId = "",
              // lenient like getFlowFileExpiration (a unitless "12" or "0"
              // parses to 0 = never expire, it does not fail the load)
              expirationMs = first(c, d.expiration)
                .flatMap(Units.parseDurationMsOpt).filter(_ > 0),
              maxQueueSize = first(c, d.queueSize).flatMap(Units.parseIntegralOpt),
              maxQueueDataSize = first(c, d.queueDataSize)
                .flatMap(Units.parseBytesOpt),
              swapThreshold = first(c, d.swapThreshold: _*)
                .flatMap(Units.parseBytesOpt).getOrElse(0L),
              dropEmpty = first(c, d.dropEmpty)
                .flatMap(Units.parseBoolOpt).getOrElse(false),
              groupIdx = idx),
            sourceIdKey = at(c, d.sourceIdPath),
            sourceNameKey = at(c, d.sourceNamePath),
            destIdKey = at(c, d.destinationIdPath),
            destNameKey = at(c, d.destinationNamePath),
            explicitRels = rels.nonEmpty)
        case _ => null // an invalid connection node, reported by assemble
      }
      val svcs = nodes(g, d.services).map { s =>
        val (id, name) = idName(s)
        ServiceDef(id, name, first(s, d.serviceClass: _*).getOrElse(""),
          propPlanes(s.getOrElse(d.properties, null))._1)
      }
      groups(idx) = RawGroup(idx, parentIdx,
        first(g, d.parameterContextName), procs.result(), ports.toMap, conns,
        svcs)
      nodes(g, d.childGroups).foreach(walk(_, idx))
    }
    walk(node(doc, d.rootGroupPath), -1)
    assemble(at(doc, d.flowNamePath).getOrElse("MiNiFi Flow"), groups.toSeq,
      contexts)
  }

  // ---- shared back half: parameter substitution + connection resolution --

  private def parseContextsPlane(doc: Node, d: Dialect): Seq[ParameterContextDef] =
    nodes(doc, d.parameterContexts).map { n =>
      ParameterContextDef(
        name = str(n, "name", str(n, d.id, "")),
        parameters = nodes(n, d.parameters).map { p =>
          ParameterDef(
            name = str(p, "name", ""),
            value = str(p, "value", ""),
            sensitive = first(p, "sensitive").exists(_.equalsIgnoreCase("true")))
        },
        inherits = asList(n.getOrElse(d.inheritedContexts, null)).map(_.toString))
    }

  private def assemble(name: String, groups: Seq[RawGroup],
                       contextDefs: Seq[ParameterContextDef]): FlowDef = {
    val contexts = ParameterContexts.build(contextDefs)
    val errors = Seq.newBuilder[String]

    // parameter substitution: each group's own context only — subgroups do
    // NOT inherit the parent group's context (FlowJsonTests.cpp
    // "Subprocessgroups cannot inherit parameters from parent processgroup")
    // an unknown or empty context name is silently ignored — the group
    // simply has no context (StructuredConfiguration::parseParameterContext)
    def ctxOf(g: RawGroup): Option[ResolvedParameterContext] =
      g.paramContextName.filter(_.nonEmpty).flatMap(contexts.get)
    val substituted = groups.map { g =>
      val ctx = ctxOf(g)
      // sensitivity is read per COMPONENT CLASS declaration — a dynamic
      // property named e.g. "Password" on a RouteOnAttribute is not
      // sensitive (StructuredConfiguration.cpp:819-828,896-912)
      def subst(clazz: String,
                props: Map[String, String]): Map[String, String] =
        props.map { case (k, v) =>
          k -> ParameterTokens.substitute(v, ctx,
            ParameterContexts.isSensitiveProperty(clazz, k))
        }
      g.copy(
        procs = g.procs.map(p => p.copy(
          properties = subst(p.clazz, p.properties),
          propertyLists = p.propertyLists.map { case (k, vs) =>
            k -> vs.map(ParameterTokens.substitute(_, ctx,
              ParameterContexts.isSensitiveProperty(p.clazz, k)))
          })),
        services = g.services.map(s =>
          s.copy(properties = subst(s.clazz, s.properties))))
    }

    val allProcs = substituted.flatMap(_.procs)
    val byGroup = substituted.map(g => g.idx -> g).toMap
    def childrenOf(idx: Int): Seq[RawGroup] =
      substituted.filter(_.parentIdx == idx)
    // subtree processor view for the implicit funnel/port relationship
    // lookup (findProcessorById's default IncludeChildren traversal)
    def subtreeProcs(idx: Int): Seq[ProcessorDef] =
      byGroup(idx).procs ++ childrenOf(idx).flatMap(c => subtreeProcs(c.idx))

    val conns = substituted.flatMap { g =>
      val ownProcs = g.procs
      val childPorts: Map[String, Boolean] =
        childrenOf(g.idx).flatMap(_.ports).toMap

      g.conns.map { raw =>
        if (raw == null) {
          // backwards compat: ignore instead of throwing
          // (StructuredConfiguration.cpp:690-693)
          errors += "Invalid connection node, ignoring"
          null
        } else {
          val c = raw.base
          // endpoint id discovery (StructuredConnectionParser.cpp:112-175):
          // explicit id wins unvalidated; a name resolves first as an id
          // ("remote port id" path) then as a processor name, own group
          // only; an unresolvable NAME fails the load (the reference
          // throws out of getSourceUUID)
          def endpointId(idKey: Option[String], nameKey: Option[String],
                         which: String, trailing: String): String =
            idKey.getOrElse {
              val n = nameKey.getOrElse("")
              if (ownProcs.exists(_.id == n)) n
              else ownProcs.find(_.name == n).map(_.id).getOrElse(
                throw new IllegalArgumentException(
                  s"Could not locate a $which with name $n to create a connection$trailing"))
            }
          // group-scoped resolution with port directionality
          // (ProcessGroup.cpp:425-470)
          def resolve(id: String, isSource: Boolean): String = {
            val cname = c.name
            val cid = c.id
            g.ports.get(id) match {
              case Some(isInput) =>
                if (isSource && !isInput) {
                  errors += s"Output port [id = '$id'] cannot be a source inside the process group in the connection [name = '$cname', id = '$cid']"
                  ""
                } else if (!isSource && isInput) {
                  errors += s"Input port [id = '$id'] cannot be a destination inside the process group in the connection [name = '$cname', id = '$cid']"
                  ""
                } else id
              case None => childPorts.get(id) match {
                case Some(isInput) =>
                  if (isSource && isInput) {
                    errors += s"Input port [id = '$id'] cannot be a source outside the process group in the connection [name = '$cname', id = '$cid']"
                    ""
                  } else if (!isSource && !isInput) {
                    errors += s"Output port [id = '$id'] cannot be a destination outside the process group in the connection [name = '$cname', id = '$cid']"
                    ""
                  } else id
                case None =>
                  if (ownProcs.exists(_.id == id)) id
                  else {
                    val role = if (isSource) "source" else "destination"
                    errors += s"Cannot find the $role processor with id '$id' for the connection [name = '$cname', id = '$cid']"
                    ""
                  }
              }
            }
          }
          val srcId = endpointId(raw.sourceIdKey, raw.sourceNameKey,
            "source", " ")
          val dstId = endpointId(raw.destIdKey, raw.destNameKey,
            "destination", "")
          // implicit relationship for funnel/port sources when none was
          // configured (StructuredConnectionParser.cpp:32-53)
          val rels =
            if (raw.explicitRels) c.relationships
            else subtreeProcs(g.idx).find(_.id == srcId).map(_.kind) match {
              case Some("Funnel") => Seq("success")
              case Some("RemoteProcessGroupPort") => Seq("undefined")
              case _ => c.relationships
            }
          c.copy(sourceId = resolve(srcId, isSource = true),
                 destinationId = resolve(dstId, isSource = false),
                 relationships = rels)
        }
      }.filter(_ != null)
    }

    FlowDef(name, allProcs, conns,
      substituted.flatMap(_.services), contextDefs, errors.result())
  }

  private type Node = scala.collection.Map[String, Object]
  /** The first of the alternative keys holding a non-null value. */
  private def first(m: Node, keys: String*): Option[String] =
    keys.iterator.flatMap(k => m.get(k).flatMap(Option(_))).nextOption()
      .map(_.toString)
  private def str(m: Node, k: String, default: String): String =
    first(m, k).getOrElse(default)
  /** The first of the alternative keys holding a non-empty scalar or
    * list; list elements keep a null as "". */
  private def values(m: Node, keys: Seq[String]): Seq[String] =
    keys.iterator.map(k => m.getOrElse(k, null) match {
      case l: java.util.List[_] =>
        l.asScala.toSeq.map(v => if (v == null) "" else v.toString)
      case null => Nil
      case v => Seq(v.toString).filter(_.nonEmpty)
    }).find(_.nonEmpty).getOrElse(Nil)
  /** The mapping at a key path; a missing step reads as empty. */
  private def node(m: Node, path: Seq[String]): Node =
    path.foldLeft(m)((n, k) => asMap(n.getOrElse(k, null)))
  private def at(m: Node, path: Seq[String]): Option[String] =
    first(node(m, path.init), path.last)
  private def nodes(m: Node, k: String): Seq[Node] =
    asList(m.getOrElse(k, null)).map(asMap)
  /** Properties: scalar values plus value sequences
    * (`[{"value": ...}, ...]` — FlowSchema property value sequences). The
    * first sequence element doubles as the scalar view, matching the
    * reference's getProperty over a multi-valued property. */
  private def propPlanes(v: Object): (Map[String, String], Map[String, Seq[String]]) = {
    val m = asMap(v)
    val firsts = Map.newBuilder[String, String]
    val lists = Map.newBuilder[String, Seq[String]]
    m.foreach {
      case (k, l: java.util.List[_]) =>
        val vs = l.asScala.toSeq.map {
          case im: java.util.Map[_, _] =>
            Option(im.asInstanceOf[java.util.Map[Object, Object]].get("value"))
              .map(_.toString).getOrElse("")
          case null => ""
          case other => other.toString
        }
        lists += k -> vs
        vs.headOption.foreach(h => firsts += k -> h)
      case (k, value) =>
        firsts += k -> (if (value == null) "" else value.toString)
    }
    (firsts.result(), lists.result())
  }
  private def asMap(v: Object): Node = v match {
    case null => Map.empty[String, Object]
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, v) => k.toString -> v.asInstanceOf[Object] }
    case other =>
      throw new IllegalArgumentException(s"expected mapping, got $other")
  }
  private def asList(v: Object): Seq[Object] = v match {
    case null => Nil
    case l: java.util.List[_] => l.asScala.toSeq.map(_.asInstanceOf[Object])
    case other =>
      throw new IllegalArgumentException(s"expected list, got $other")
  }
}

/** Property unit parsers mirroring the core framework's parsing
  * (core-framework/common/src/utils/ParsingUtils.cpp,
  * TimeUtil.h StringToDuration). */
object Units {
  /** parseDataSize (ParsingUtils.cpp:31-87): the unit is everything after
    * the leading digits, trimmed and uppercased, matched EXACTLY against
    * the NiFi unit map — where bare K/M/G/T/P are DECIMAL multipliers but
    * KB/MB/... and KiB/MiB/... are both BINARY (Literals.h: 1_KB = 1000,
    * 1_KiB = 1024; the map assigns {"K", 1_KB} and {"KB", 1_KiB}). A bare
    * number is bytes; trailing garbage ("8000 banana") is invalid. */
  def parseBytes(s: String): Long = {
    val t = s.trim
    val split = t.indexWhere(c => c < '0' || c > '9')
    if (split < 0) {
      if (t.isEmpty) throw new IllegalArgumentException(s"bad data size '$s'")
      return t.toLong
    }
    val numStr = t.substring(0, split)
    if (numStr.isEmpty) throw new IllegalArgumentException(s"bad data size '$s'")
    val mult = t.substring(split).trim.toUpperCase match {
      case "B" => 1L
      case "K" => 1000L
      case "M" => 1000L * 1000
      case "G" => 1000L * 1000 * 1000
      case "T" => 1000L * 1000 * 1000 * 1000
      case "P" => 1000L * 1000 * 1000 * 1000 * 1000
      case "KB" | "KIB" => 1L << 10
      case "MB" | "MIB" => 1L << 20
      case "GB" | "GIB" => 1L << 30
      case "TB" | "TIB" => 1L << 40
      case "PB" | "PIB" => 1L << 50
      case _ => throw new IllegalArgumentException(s"bad data size '$s'")
    }
    // "20000 PB" overflows uint64 in the reference (OverflowError) —
    // multiplyExact's ArithmeticException gives the Opt variant its None
    Math.multiplyExact(numStr.toLong, mult)
  }

  /** StringToDuration (TimeUtil.h:108-181): signed value, optional spaces,
    * unit spelled per the chrono unit tables (ns..years), case-insensitive.
    * Sub-millisecond results floor toward zero like duration_cast. */
  def parseDurationMs(s: String): Long = {
    val t = s.trim
    val m = DurRe.findFirstMatchIn(t).getOrElse(
      throw new IllegalArgumentException(s"bad duration '$s'"))
    val value = m.group(1).toLong
    val unitNanosPerMs: Either[Long, Long] = m.group(2).toLowerCase match {
      // Left(divisor in units-per-ms) for sub-ms units, Right(ms multiplier)
      case "ns" | "nano" | "nanos" | "nanosecond" | "nanoseconds" => Left(1000000L)
      case "us" | "micro" | "micros" | "microsecond" | "microseconds" => Left(1000L)
      case "msec" | "ms" | "millisecond" | "milliseconds" | "msecs" | "millis" | "milli" => Right(1L)
      case "sec" | "s" | "second" | "seconds" | "secs" => Right(1000L)
      case "min" | "m" | "mins" | "minute" | "minutes" => Right(60000L)
      case "h" | "hr" | "hour" | "hrs" | "hours" => Right(3600000L)
      case "d" | "day" | "days" => Right(86400000L)
      case "w" | "wk" | "wks" | "week" | "weeks" => Right(7L * 86400000L)
      // std::chrono::months = 2629746 s, years = 31556952 s exactly
      case "month" | "months" => Right(2629746000L)
      case "y" | "year" | "years" => Right(31556952000L)
      case _ => throw new IllegalArgumentException(s"bad duration '$s'")
    }
    unitNanosPerMs match {
      case Left(perMs) => value / perMs
      case Right(mult) => value * mult
    }
  }
  private val DurRe = """^(-?\d+)\s*([a-zA-Z]+)$""".r

  def parseBool(s: String): Boolean = s.trim.equalsIgnoreCase("true")

  // ---- lenient variants (StructuredConnectionParser backward-compat
  // contract: invalid values fall back instead of failing the load) ----

  /** parseDataSize: None on any format the strict parser rejects
    * ("10 Incorrect", "2 Baby Pandas (img, 20 MB) that are …"). A bare
    * number is bytes. */
  def parseBytesOpt(s: String): Option[Long] =
    try Some(parseBytes(s)) catch { case _: Exception => None }

  /** parseIntegral: digits only — "2 KB" is invalid for a COUNT field
    * (StructuredConnectionParser.cpp:77). */
  def parseIntegralOpt(s: String): Option[Long] = s.trim.toLongOption

  /** StringToDuration: None on a unitless "12"/"0" (the reference logs
    * and treats it as 0 — "we should throw here, but we do not",
    * StructuredConnectionParser.cpp:186-193). */
  def parseDurationMsOpt(s: String): Option[Long] =
    try Some(parseDurationMs(s)) catch { case _: IllegalArgumentException => None }

  /** utils::string::toBool: case-insensitive true/false, None otherwise
    * ("sup", "NULL" → caller's value_or). */
  def parseBoolOpt(s: String): Option[Boolean] = s.trim.toLowerCase match {
    case "true" => Some(true)
    case "false" => Some(false)
    case _ => None
  }
}
