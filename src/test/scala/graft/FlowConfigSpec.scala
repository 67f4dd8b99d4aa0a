package graft

import graft.flow._

/**
 * Flow-config parser batteries ported from the reference:
 *  - YamlConnectionParserTest.cpp (extensions/standard-processors/tests/
 *    unit/) — the StructuredConnectionParser lenient-fallback contract
 *  - ParsingUtilsTests.cpp (libminifi/test/unit/) — data-size/duration
 *    unit quirks
 *  - YamlProcessGroupParserTests.cpp — group-scoped connection resolution
 *    and port directionality (ProcessGroup.cpp:412-474)
 *  - FlowJsonTests.cpp — the NiFi JSON schema incl. the parameter-context
 *    plane
 *  - ParameterTokenParserTest.cpp (libminifi/test/unit/) — #{param} token
 *    parsing and substitution
 */
class FlowConfigSpec extends org.scalatest.funsuite.AnyFunSuite {

  // ---------------------------------------------------------------- Units

  test("parseDataSize quirks: bare K/M/G decimal, KB/KiB binary, exact-" +
       "match unit, overflow (ParsingUtilsTests.cpp:48-54, ParsingUtils." +
       "cpp:31-57)") {
    assert(Units.parseBytes("8000") === 8000L)
    assert(Units.parseBytes("8000 kB") === 8192000L) // kB is BINARY (1_KiB)
    assert(Units.parseBytes("1 K") === 1000L)        // bare K is DECIMAL (1_KB)
    assert(Units.parseBytes("1 KB") === 1024L)
    assert(Units.parseBytes("1 KiB") === 1024L)
    assert(Units.parseBytes("2 MB") === 2L << 20)
    assert(Units.parseBytes("3 M") === 3000000L)
    assert(Units.parseBytes("1 PB") === 1L << 50)
    assert(Units.parseBytes("1 P") === 1000000000000000L)
    assert(Units.parseBytes("10 B") === 10L)
    assert(Units.parseBytesOpt("8000 banana") === None)
    assert(Units.parseBytesOpt("20000 PB") === None) // uint64 overflow
    assert(Units.parseBytesOpt("-8000") === None)    // parseIntegral<uint64>
  }

  test("StringToDuration unit table incl. weeks/months/years; garbage " +
       "rejected (TimeUtil.h:129-181, ParsingUtilsTests.cpp:81-83)") {
    assert(Units.parseDurationMs("12s") === 12000L)
    assert(Units.parseDurationMs("12 hrs") === 12L * 3600000)
    assert(Units.parseDurationMs("1 w") === 7L * 86400000)
    // std::chrono::months = 2629746 s, years = 31556952 s exactly
    assert(Units.parseDurationMs("1 month") === 2629746000L)
    assert(Units.parseDurationMs("1 y") === 31556952000L)
    assert(Units.parseDurationMs("500 us") === 0L) // duration_cast floors
    assert(Units.parseDurationMs("3000000 ns") === 3L)
    assert(Units.parseDurationMsOpt("12ss") === None)
    assert(Units.parseDurationMsOpt("2 fortnights") === None)
    assert(Units.parseDurationMsOpt("12") === None) // unitless: caller's 0
    // StringToDuration vectors (TimeUtilTests.cpp:148-177): multi-space
    // separation, uppercase units, sub-ms flooring
    assert(Units.parseDurationMs("102             hours") === 102L * 3600000)
    assert(Units.parseDurationMs("100 SEC") === 100000L)
    assert(Units.parseDurationMs("5 ns") === 0L)
    assert(Units.parseDurationMs("2             weeks") === 14L * 86400000)
    assert(Units.parseDurationMs("2 months") === 2L * 2629746000L)
    assert(Units.parseDurationMs("2 years") === 2L * 31556952000L)
  }

  // ---------------------------- YamlConnectionParserTest.cpp battery ----

  private def yamlFlow(connectionBody: String,
                       extraProcs: String = ""): FlowDef =
    FlowConfig.parseYaml(
      s"""Flow Controller:
         |  name: root
         |Processors:
         |- id: TailFile_1
         |  name: TailFile_1
         |  class: TailFile
         |- id: TailFile_2
         |  name: TailFile_2
         |  class: TailFile
         |$extraProcs
         |Connections:
         |- id: test_node
         |  name: test_node
         |${connectionBody.linesIterator.map("  " + _).mkString("\n")}
         |""".stripMargin)

  test("single relationship name and list of names are read " +
       "(YamlConnectionParserTest.cpp:44-66)") {
    val single = yamlFlow(
      """source id: TailFile_1
        |destination id: TailFile_2
        |source relationship name: success""".stripMargin)
    assert(single.connections.head.relationships === Seq("success"))
    val list = yamlFlow(
      """source id: TailFile_1
        |destination id: TailFile_2
        |source relationship names:
        |- success
        |- failure
        |- something_else""".stripMargin)
    assert(list.connections.head.relationships ===
      Seq("success", "failure", "something_else"))
  }

  test("queue size limits, swap threshold, expiration, drop empty are " +
       "read (YamlConnectionParserTest.cpp:67-140)") {
    val c = yamlFlow(
      """source id: TailFile_1
        |destination id: TailFile_2
        |source relationship name: success
        |max work queue size: 231
        |max work queue data size: 12 MB
        |swap threshold: 231
        |flowfile expiration: 2 min
        |drop empty: true""".stripMargin).connections.head
    assert(c.maxQueueSize === Some(231L))
    assert(c.maxQueueDataSize === Some(12L << 20)) // 12_MiB
    assert(c.swapThreshold === 231L)
    assert(c.expirationMs === Some(120000L))
    assert(c.dropEmpty === true)
    val f = yamlFlow(
      """source id: TailFile_1
        |destination id: TailFile_2
        |source relationship name: success
        |drop empty: false""".stripMargin).connections.head
    assert(f.dropEmpty === false)
  }

  test("source and destination resolve by id, by name-as-id, and by " +
       "processor-name lookup (YamlConnectionParserTest.cpp:83-117)") {
    Seq(
      // directly from configuration / uuid-in-name / name lookup
      "source id: TailFile_1\ndestination id: TailFile_2",
      "source name: TailFile_1\ndestination name: TailFile_2").foreach { ep =>
      val c = yamlFlow(ep + "\nsource relationship name: success")
        .connections.head
      assert(c.sourceId === "TailFile_1", ep)
      assert(c.destinationId === "TailFile_2", ep)
    }
  }

  test("empty-valued keys fall back to defaults; empty relationship list " +
       "items are tolerated (YamlConnectionParserTest.cpp:141-200)") {
    val c = yamlFlow(
      """source id: TailFile_1
        |destination id: TailFile_2
        |source relationship names:
        |-
        |max work queue size:
        |max work queue data size:
        |swap threshold:
        |flowfile expiration:
        |drop empty:""".stripMargin).connections.head
    assert(c.relationships === Seq("")) // empty item added as-is
    assert(c.queueSizeLimit === ConnectionDef.DefaultQueueSize)      // 2000
    assert(c.queueDataSizeLimit === ConnectionDef.DefaultQueueDataSize) // 100 MB
    assert(c.swapThreshold === 0L)
    assert(c.expirationMs === None) // 0 = never expire
    assert(c.dropEmpty === false)
    // empty source/destination NAME fails the load (getSourceUUID throws,
    // cpp:139-141 — id-based resolution merely records an error instead)
    val ex = intercept[IllegalArgumentException](yamlFlow(
      "source name:\ndestination name:\nsource relationship name: success"))
    assert(ex.getMessage ===
      "Could not locate a source with name  to create a connection ")
  }

  test("values of incorrect format fall back instead of failing the load " +
       "(YamlConnectionParserTest.cpp:201-226)") {
    val c = yamlFlow(
      """source id: TailFile_1
        |destination id: TailFile_2
        |source relationship name: success
        |max work queue size: 2 KB
        |max work queue data size: 10 Incorrect
        |flowfile expiration: 12
        |drop empty: sup""".stripMargin).connections.head
    assert(c.queueSizeLimit === 2000L)   // "2 KB" invalid for a COUNT field
    assert(c.queueDataSizeLimit === ConnectionDef.DefaultQueueDataSize)
    assert(c.expirationMs === None)      // unitless "12" → 0
    assert(c.dropEmpty === false)        // toBool("sup").value_or(false)
    val strange = yamlFlow(
      """source id: TailFile_1
        |destination id: TailFile_2
        |source relationship name: success
        |max work queue data size: 2 Baby Pandas (img, 20 MB) that are cared for by a group of 30 giraffes
        |flowfile expiration: 0
        |drop empty: NULL""".stripMargin).connections.head
    assert(strange.queueDataSizeLimit === ConnectionDef.DefaultQueueDataSize)
    assert(strange.expirationMs === None)
    assert(strange.dropEmpty === false)
  }

  test("invalid connection nodes are ignored for backward compatibility " +
       "(StructuredConfiguration.cpp:688-693)") {
    val f = FlowConfig.parseYaml(
      """Flow Controller:
        |  name: root
        |Processors:
        |- {id: a, name: a, class: X}
        |Connections:
        |- not_a_map
        |""".stripMargin)
    assert(f.connections === Nil)
    assert(f.resolutionErrors === Seq("Invalid connection node, ignoring"))
  }

  // ------------------------ YamlProcessGroupParserTests.cpp battery ----

  /** The reference battery's Group/Proc/Conn serialization shape
    * (ProcessGroupTestUtils.h) re-typed as a compact fixture builder. */
  private def groupYaml(): String =
    """Flow Controller:
      |  name: root
      |Processors:
      |- {id: p1, name: Proc1, class: LogOnDestructionProcessor}
      |Connections:
      |- id: Conn1
      |  name: Conn1
      |  source id: SRC
      |  destination id: DST
      |  source relationship name: success
      |Process Groups:
      |- name: Child1
      |  Processors:
      |  - {id: c1p1, name: Child1_Proc1, class: LogOnDestructionProcessor}
      |  Input Ports:
      |  - {id: c1in, name: Child1_In}
      |  Output Ports:
      |  - {id: c1out, name: Child1_Out}
      |  Process Groups:
      |  - name: Grandchild
      |    Input Ports:
      |    - {id: g1in, name: Grandchild_In}
      |- name: Child2
      |  Processors:
      |  - {id: c2p1, name: Child2_Proc1, class: LogOnDestructionProcessor}
      |  Input Ports:
      |  - {id: c2in, name: Child2_In}
      |Input Ports:
      |- {id: rootin, name: Root_In}
      |Output Ports:
      |- {id: rootout, name: Root_Out}
      |""".stripMargin

  private def resolveRoot(src: String, dst: String): FlowDef =
    FlowConfig.parseYaml(groupYaml()
      .replace("source id: SRC", s"source id: $src")
      .replace("destination id: DST", s"destination id: $dst"))

  test("nested groups parse with ports as processors; same-group " +
       "connections resolve (YamlProcessGroupParserTests.cpp:33-78)") {
    val f = resolveRoot("p1", "p1")
    assert(f.processors.map(_.name).toSet === Set("Proc1", "Child1_Proc1",
      "Child1_In", "Child1_Out", "Grandchild_In", "Child2_Proc1",
      "Child2_In", "Root_In", "Root_Out"))
    assert(f.processors.find(_.name == "Child1_In").get.kind === "InputPort")
    assert(f.resolutionErrors === Nil)
    assert(f.connections.head.sourceId === "p1")
  }

  test("cannot connect processors from different groups " +
       "(YamlProcessGroupParserTests.cpp:80-137)") {
    // parent -> child processor: both endpoints unresolved
    val down = resolveRoot("c1p1", "c1p1")
    assert(down.resolutionErrors === Seq(
      "Cannot find the source processor with id 'c1p1' for the connection " +
        "[name = 'Conn1', id = 'Conn1']",
      "Cannot find the destination processor with id 'c1p1' for the " +
        "connection [name = 'Conn1', id = 'Conn1']"))
    assert(down.connections.head.sourceId === "")
    assert(down.connections.head.destinationId === "")
    // sibling groups cannot reach each other: Child1's connection to
    // Child2's processor fails the same way
    val sibling = FlowConfig.parseYaml(groupYaml()
      .replace("source id: SRC", "source id: p1")
      .replace("destination id: DST", "destination id: p1")
      .replace("""  Output Ports:
                 |  - {id: c1out, name: Child1_Out}""".stripMargin,
        """  Output Ports:
          |  - {id: c1out, name: Child1_Out}
          |  Connections:
          |  - id: XConn
          |    name: XConn
          |    source id: c2p1
          |    destination id: c1p1
          |    source relationship name: success""".stripMargin))
    assert(sibling.resolutionErrors.exists(_.startsWith(
      "Cannot find the source processor with id 'c2p1'")))
  }

  test("processor can reach a DIRECT child group's input port as " +
       "destination and output port as source " +
       "(YamlProcessGroupParserTests.cpp:139-187)") {
    val toChild = resolveRoot("p1", "c1in")
    assert(toChild.resolutionErrors === Nil)
    assert(toChild.connections.head.destinationId === "c1in")
    val fromChild = resolveRoot("c1out", "p1")
    assert(fromChild.resolutionErrors === Nil)
    assert(fromChild.connections.head.sourceId === "c1out")
    // two child groups communicate through their ports via the parent
    val portToPort = resolveRoot("c1out", "c2in")
    assert(portToPort.resolutionErrors === Nil)
  }

  test("grandchild ports are unreachable " +
       "(YamlProcessGroupParserTests.cpp:189-209)") {
    val f = resolveRoot("p1", "g1in")
    assert(f.resolutionErrors === Seq("Cannot find the destination " +
      "processor with id 'g1in' for the connection " +
      "[name = 'Conn1', id = 'Conn1']"))
  }

  test("inside the group: input port may source, output port may sink, " +
       "but not the reverse (YamlProcessGroupParserTests.cpp:211-265)") {
    val ok = resolveRoot("rootin", "rootout")
    assert(ok.resolutionErrors === Nil)
    val badDst = resolveRoot("p1", "rootin")
    assert(badDst.resolutionErrors === Seq("Input port [id = 'rootin'] " +
      "cannot be a destination inside the process group in the connection " +
      "[name = 'Conn1', id = 'Conn1']"))
    val badSrc = resolveRoot("rootout", "p1")
    assert(badSrc.resolutionErrors === Seq("Output port [id = 'rootout'] " +
      "cannot be a source inside the process group in the connection " +
      "[name = 'Conn1', id = 'Conn1']"))
  }

  test("outside the group: child input port cannot source, child output " +
       "port cannot sink (YamlProcessGroupParserTests.cpp:267-297)") {
    val badSrc = resolveRoot("c1in", "p1")
    assert(badSrc.resolutionErrors === Seq("Input port [id = 'c1in'] " +
      "cannot be a source outside the process group in the connection " +
      "[name = 'Conn1', id = 'Conn1']"))
    val badDst = resolveRoot("p1", "c1out")
    assert(badDst.resolutionErrors === Seq("Output port [id = 'c1out'] " +
      "cannot be a destination outside the process group in the " +
      "connection [name = 'Conn1', id = 'Conn1']"))
  }

  // ------------------------------------- FlowJsonTests.cpp battery ----

  test("NiFi flow json format parses: processors, funnels, RPG ports, " +
       "connections with thresholds (FlowJsonTests.cpp:42-195)") {
    val f = FlowConfig.parseJson(
      """{
        |  "rootGroup": {
        |    "name": "MiNiFi Flow",
        |    "processors": [{
        |      "identifier": "00000000-0000-0000-0000-000000000001",
        |      "name": "MyGenFF",
        |      "type": "org.apache.nifi.processors.standard.GenerateFlowFile",
        |      "schedulingStrategy": "TIMER_DRIVEN",
        |      "schedulingPeriod": "3 sec",
        |      "autoTerminatedRelationships": ["one", "two"],
        |      "properties": {
        |        "File Size": "10 B", "Batch Size": "12",
        |        "Data Format": "Text", "Unique FlowFiles": false
        |      }
        |    }],
        |    "funnels": [{
        |      "identifier": "00000000-0000-0000-0000-000000000010",
        |      "name": "CoolFunnel"
        |    }],
        |    "connections": [{
        |      "identifier": "00000000-0000-0000-0000-000000000002",
        |      "name": "GenToFunnel",
        |      "source": {"id": "00000000-0000-0000-0000-000000000001", "name": "MyGenFF"},
        |      "destination": {"id": "00000000-0000-0000-0000-000000000010", "name": "CoolFunnel"},
        |      "selectedRelationships": ["a", "b"],
        |      "backPressureObjectThreshold": 7,
        |      "backPressureDataSizeThreshold": "11 KB",
        |      "flowFileExpiration": "13 sec"
        |    }, {
        |      "identifier": "00000000-0000-0000-0000-000000000008",
        |      "name": "FunnelToS2S",
        |      "source": {"id": "00000000-0000-0000-0000-000000000010", "name": "CoolFunnel"},
        |      "destination": {"id": "00000000-0000-0000-0000-000000000003", "name": "AmazingInputPort"}
        |    }],
        |    "remoteProcessGroups": [{
        |      "name": "NiFi Flow",
        |      "targetUri": "https://localhost:8090/nifi",
        |      "inputPorts": [{
        |        "identifier": "00000000-0000-0000-0000-000000000003",
        |        "name": "AmazingInputPort",
        |        "targetId": "00000000-0000-0000-0000-000000000005"
        |      }]
        |    }]
        |  }
        |}""".stripMargin)
    val gen = f.processor("MyGenFF")
    assert(gen.id === "00000000-0000-0000-0000-000000000001")
    assert(gen.autoTerminated === Set("one", "two"))
    assert(gen.properties("File Size") === "10 B")
    assert(f.processor("CoolFunnel").kind === "Funnel")
    // the RPG input port is addressable from the declaring group
    val port = f.processor("AmazingInputPort")
    assert(port.kind === "RemoteProcessGroupPort")
    assert(port.properties("Port UUID") ===
      "00000000-0000-0000-0000-000000000005")
    assert(port.properties("url") === "https://localhost:8090/nifi")
    val c1 = f.connections.find(_.name == "GenToFunnel").get
    assert(c1.relationships === Seq("a", "b"))
    assert(c1.maxQueueSize === Some(7L))
    assert(c1.maxQueueDataSize === Some(11L * 1024)) // 11_KiB
    assert(c1.expirationMs === Some(13000L))
    val c2 = f.connections.find(_.name == "FunnelToS2S").get
    assert(c2.sourceId === "00000000-0000-0000-0000-000000000010")
    assert(c2.destinationId === "00000000-0000-0000-0000-000000000003")
    // no selectedRelationships on a funnel source: the implicit "success"
    // (StructuredConnectionParser.cpp:32-53, ForwardingNode.h:35)
    assert(c2.relationships === Seq("success"))
    assert(f.resolutionErrors === Nil)
  }

  test("targetUris array and RPG output ports " +
       "(FlowJsonTests.cpp:942-1068,1810-1873)") {
    val f = FlowConfig.parseJson(
      """{
        |  "rootGroup": {
        |    "name": "MiNiFi Flow",
        |    "processors": [{
        |      "identifier": "00000000-0000-0000-0000-000000000001",
        |      "name": "PutFile", "type": "o.a.n.p.standard.PutFile",
        |      "autoTerminatedRelationships": ["success"], "properties": {}
        |    }],
        |    "connections": [{
        |      "identifier": "00000000-0000-0000-0000-000000000008",
        |      "name": "S2SToRPG",
        |      "source": {"id": "00000000-0000-0000-0000-000000000003", "name": "AmazingOutputPort"},
        |      "destination": {"id": "00000000-0000-0000-0000-000000000001", "name": "PutFile"},
        |      "selectedRelationships": [""]
        |    }],
        |    "remoteProcessGroups": [{
        |      "name": "NiFi Flow",
        |      "targetUris": ["https://localhost:8090/nifi", "https://notlocalhost:8090/nifi"],
        |      "outputPorts": [{
        |        "identifier": "00000000-0000-0000-0000-000000000003",
        |        "name": "AmazingOutputPort",
        |        "targetId": "00000000-0000-0000-0000-000000000005"
        |      }]
        |    }],
        |    "parameterContextName": "my-context"
        |  }
        |}""".stripMargin)
    // unknown parameterContextName with no tokens: silently no context
    // (StructuredConfiguration::parseParameterContext)
    val port = f.processor("AmazingOutputPort")
    assert(port.properties("url") ===
      "https://localhost:8090/nifi,https://notlocalhost:8090/nifi")
    assert(f.connections.head.sourceId ===
      "00000000-0000-0000-0000-000000000003")
    assert(f.resolutionErrors === Nil)
  }

  // One flow in both dialects. Keys only one dialect has (JSON's RPG
  // targetId, YAML's swap threshold) are left out.
  private val ParityYaml =
    """Flow Controller:
      |  name: parity
      |Parameter Contexts:
      |- id: ctx1
      |  name: ctx
      |  Parameters:
      |  - {name: sz, sensitive: false, value: 10 B}
      |Parameter Context Name: ctx
      |Processors:
      |- id: gen
      |  name: Gen
      |  class: org.apache.nifi.processors.standard.GenerateFlowFile
      |  scheduling strategy: TIMER_DRIVEN
      |  scheduling period: 3 sec
      |  auto-terminated relationships list: [failure]
      |  Properties:
      |    File Size: '#{sz}'
      |    Batch Size: 2
      |- id: log
      |  name: Log
      |  class: org.apache.nifi.processors.standard.LogAttribute
      |  auto-terminated relationships list: [failure, other]
      |  Properties: {}
      |Funnels:
      |- {id: fun, name: Fun}
      |Remote Process Groups:
      |- id: rpg
      |  name: RPG
      |  url: http://localhost:8080/nifi
      |  Input Ports:
      |  - {id: rin, name: RemoteIn}
      |Connections:
      |- id: c1
      |  name: GenToFun
      |  source id: gen
      |  source relationship names: [success]
      |  destination id: fun
      |  max work queue size: 7
      |  max work queue data size: 11 KB
      |  flowfile expiration: 13 sec
      |  drop empty: true
      |- {id: c2, name: FunToChild, source id: fun, destination id: cin}
      |- {id: c3, name: ChildToLog, source id: cout, destination id: log}
      |- id: c4
      |  name: LogToRemote
      |  source id: log
      |  source relationship names: [success]
      |  destination name: RemoteIn
      |Controller Services:
      |- id: svc
      |  name: SSL
      |  class: SSLContextService
      |  Properties: {CA Certificate: ca.pem}
      |Process Groups:
      |- name: Child
      |  Input Ports:
      |  - {id: cin, name: ChildIn}
      |  Output Ports:
      |  - {id: cout, name: ChildOut}
      |  Connections:
      |  - {id: c5, name: InToOut, source id: cin, destination id: cout}
      |""".stripMargin

  private val ParityJson =
    """{
      |  "parameterContexts": [{"identifier": "ctx1", "name": "ctx",
      |    "parameters": [{"name": "sz", "sensitive": false, "value": "10 B"}]}],
      |  "rootGroup": {
      |    "name": "parity",
      |    "parameterContextName": "ctx",
      |    "processors": [{
      |      "identifier": "gen", "name": "Gen",
      |      "type": "org.apache.nifi.processors.standard.GenerateFlowFile",
      |      "schedulingStrategy": "TIMER_DRIVEN", "schedulingPeriod": "3 sec",
      |      "autoTerminatedRelationships": ["failure"],
      |      "properties": {"File Size": "#{sz}", "Batch Size": 2}
      |    }, {
      |      "identifier": "log", "name": "Log",
      |      "type": "org.apache.nifi.processors.standard.LogAttribute",
      |      "autoTerminatedRelationships": ["failure", "other"],
      |      "properties": {}
      |    }],
      |    "funnels": [{"identifier": "fun", "name": "Fun"}],
      |    "remoteProcessGroups": [{
      |      "identifier": "rpg", "name": "RPG",
      |      "targetUri": "http://localhost:8080/nifi",
      |      "inputPorts": [{"identifier": "rin", "name": "RemoteIn"}]
      |    }],
      |    "connections": [{
      |      "identifier": "c1", "name": "GenToFun",
      |      "source": {"id": "gen"}, "destination": {"id": "fun"},
      |      "selectedRelationships": ["success"],
      |      "backPressureObjectThreshold": 7,
      |      "backPressureDataSizeThreshold": "11 KB",
      |      "flowFileExpiration": "13 sec",
      |      "dropEmpty": true
      |    },
      |    {"identifier": "c2", "name": "FunToChild",
      |     "source": {"id": "fun"}, "destination": {"id": "cin"}},
      |    {"identifier": "c3", "name": "ChildToLog",
      |     "source": {"id": "cout"}, "destination": {"id": "log"}},
      |    {"identifier": "c4", "name": "LogToRemote",
      |     "source": {"id": "log"}, "destination": {"name": "RemoteIn"},
      |     "selectedRelationships": ["success"]}],
      |    "controllerServices": [{
      |      "identifier": "svc", "name": "SSL", "type": "SSLContextService",
      |      "properties": {"CA Certificate": "ca.pem"}
      |    }],
      |    "processGroups": [{
      |      "name": "Child",
      |      "inputPorts": [{"identifier": "cin", "name": "ChildIn"}],
      |      "outputPorts": [{"identifier": "cout", "name": "ChildOut"}],
      |      "connections": [{"identifier": "c5", "name": "InToOut",
      |        "source": {"id": "cin"}, "destination": {"id": "cout"}}]
      |    }]
      |  }
      |}""".stripMargin

  test("dialect parity: one flow written in YAML and in NiFi JSON parses " +
       "to equal FlowDefs") {
    val y = FlowConfig.parseYaml(ParityYaml)
    assert(y === FlowConfig.parseJson(ParityJson))
    // the flow really exercises every plane the two dialects share
    assert(y.processors.map(p => p.id -> p.kind) === Seq(
      "gen" -> "GenerateFlowFile", "log" -> "LogAttribute",
      "fun" -> "Funnel", "rin" -> "RemoteProcessGroupPort",
      "cin" -> "InputPort", "cout" -> "OutputPort"))
    assert(y.processor("Gen").properties ===
      Map("File Size" -> "10 B", "Batch Size" -> "2"))
    assert(y.processor("Log").autoTerminated === Set("failure", "other"))
    assert(y.processor("RemoteIn").properties ===
      Map("url" -> "http://localhost:8080/nifi"))
    assert(y.processor("ChildIn").groupIdx === 1)
    val c1 = y.connections.head
    assert((c1.maxQueueSize, c1.maxQueueDataSize, c1.expirationMs,
      c1.dropEmpty) === ((Some(7L), Some(11L * 1024), Some(13000L), true)))
    assert(y.connections.map(c => (c.id, c.sourceId, c.relationships,
      c.destinationId)) === Seq(
      ("c1", "gen", Seq("success"), "fun"),
      ("c2", "fun", Seq("success"), "cin"),
      ("c3", "cout", Nil, "log"),
      ("c4", "log", Seq("success"), "rin"),
      ("c5", "cin", Nil, "cout")))
    assert(y.services === Seq(ServiceDef("svc", "SSL", "SSLContextService",
      Map("CA Certificate" -> "ca.pem"))))
    assert(y.parameterContexts.map(_.name) === Seq("ctx"))
    assert(y.resolutionErrors === Nil)
  }

  test("property value sequences: the first element is the scalar view " +
       "and propertyLists holds the whole sequence, in both dialects " +
       "(FlowJsonTests.cpp \"Property value sequences\")") {
    val yaml =
      """Flow Controller:
        |  name: root
        |Processors:
        |- id: gen
        |  name: Gen
        |  class: GenerateFlowFile
        |  Properties:
        |    Simple Property:
        |    - value: a
        |    - value: b
        |    Plain: c
        |Connections: []
        |""".stripMargin
    val json =
      """{"rootGroup": {"name": "root", "processors": [{
        |  "identifier": "gen", "name": "Gen", "type": "GenerateFlowFile",
        |  "properties": {"Simple Property": [{"value": "a"}, {"value": "b"}],
        |                 "Plain": "c"}}], "connections": []}}""".stripMargin
    Seq("yaml" -> FlowConfig.parseYaml(yaml),
        "json" -> FlowConfig.parseJson(json)).foreach { case (dialect, f) =>
      val p = f.processor("Gen")
      assert(p.properties === Map("Simple Property" -> "a", "Plain" -> "c"),
        dialect)
      assert(p.propertyLists === Map("Simple Property" -> Seq("a", "b")),
        dialect)
    }
  }

  test("adaptive payload dispatch: YAML-dialect keys serialized as JSON " +
       "parse via the yaml schema; broken JSON falls through to the yaml " +
       "error (AdaptiveConfigurationTests.cpp:27-93)") {
    val jsonWithYamlKeys =
      """{
        |  "Flow Controller": {"name": "root"},
        |  "Processors": [
        |    {"id": "00000000-0000-0000-0000-000000000001",
        |     "class": "DummyProcessor", "name": "Proc1"}
        |  ],
        |  "Connections": []
        |}""".stripMargin
    val f = FlowConfig.parse(jsonWithYamlKeys)
    assert(f.name === "root")
    assert(f.processor("Proc1").kind === "DummyProcessor")
    // a payload valid in neither dialect errors out of the yaml fallback
    intercept[Exception](FlowConfig.parse(
      """{ "Flow Controller": {"name
        |  "Processors": []}""".stripMargin))
  }

  test("explicit component ids share one uniqueness namespace: any " +
       "duplicate UUID fails the load (YamlConfigurationTests.cpp:683-737)") {
    val base =
      """Flow Controller:
        |  name: root
        |Processors:
        |- {id: 00000000-0000-0000-0000-000000000001, name: Gen, class: GenerateFlowFile}
        |- {id: 00000000-0000-0000-0000-000000000002, name: Log, class: LogAttribute}
        |Funnels:
        |- {id: 00000000-0000-0000-0000-000000000003}
        |- {id: 99999999-9999-9999-9999-999999999999}
        |Connections:
        |- id: 00000000-0000-0000-0000-000000000004
        |  name: f/Log
        |  source id: 00000000-0000-0000-0000-000000000003
        |  source relationship names: []
        |  destination id: 00000000-0000-0000-0000-000000000002
        |- id: 00000000-0000-0000-0000-000000000005
        |  name: Gen/success/f
        |  source id: 00000000-0000-0000-0000-000000000001
        |  source relationship names: [success]
        |  destination id: 00000000-0000-0000-0000-000000000003
        |Remote Process Groups:
        |- id: 00000000-0000-0000-0000-000000000006
        |  name: ''
        |  url: http://localhost:8080/nifi
        |  Input Ports:
        |  - {id: 00000000-0000-0000-0000-000000000007, name: test2}
        |  Output Ports: []
        |Controller Services:
        |- {name: SSLContextService, id: 00000000-0000-0000-0000-000000000008, class: SSLContextService}
        |""".stripMargin
    assert(FlowConfig.parseYaml(base).processors.nonEmpty) // sanity: unique ids load
    // duplicating ANY component id against the second funnel's id fails
    (1 to 8).foreach { i =>
      val dup = base.replace(s"00000000-0000-0000-0000-00000000000$i",
        "99999999-9999-9999-9999-999999999999")
      val e = intercept[IllegalArgumentException](FlowConfig.parseYaml(dup))
      assert(e.getMessage === "General Operation: UUID " +
        "99999999-9999-9999-9999-999999999999 is duplicated in the flow " +
        "configuration", s"field $i")
    }
  }

  test("every example config shipped with the reference parses, with " +
       "every connection endpoint resolving under group scoping") {
    val dir = new java.io.File("/root/reference/examples")
    assume(dir.isDirectory, "reference examples not present")
    val configs = dir.listFiles().toSeq
      .filter(f => f.getName.endsWith(".yml") || f.getName.endsWith(".json"))
    assert(configs.size >= 40, s"unexpected example count: ${configs.size}")
    configs.foreach { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val flow = FlowConfig.parse(text)
      assert(flow.processors.nonEmpty, f.getName)
      // the shipped examples are all well-formed: no unresolved endpoints
      assert(flow.resolutionErrors === Nil, f.getName)
      assert(flow.connections.forall(c =>
        c.sourceId.nonEmpty && c.destinationId.nonEmpty), f.getName)
    }
  }

  // ------------------------- ParameterTokenParserTest.cpp battery ----

  test("token parse: empty, single, multiple, repeated " +
       "(ParameterTokenParserTest.cpp:25-64)") {
    assert(ParameterTokens.parse("") === Nil)
    assert(ParameterTokens.parse("#{token.1}") ===
      Seq(ReplaceableToken("token.1", 0, 0, 10)))
    assert(ParameterTokens.parse("#{token1} #{token-2}") === Seq(
      ReplaceableToken("token1", 0, 0, 9),
      ReplaceableToken("token-2", 0, 10, 10)))
    assert(ParameterTokens.parse("#{token1} #{token-2} #{token1}")
      .map { case ReplaceableToken(n, _, s, z) => (n, s, z) } ===
      Seq(("token1", 0, 9), ("token-2", 10, 10), ("token1", 21, 9)))
  }

  test("tokens can be escaped; unfinished tokens are not tokens " +
       "(ParameterTokenParserTest.cpp:66-88)") {
    val t = ParameterTokens.parse(
      "## ##{token1} #{token-2} ###{token_3}# ## ##not_a_token")
    assert(t === Seq(
      EscapedToken(3, 10, "#{token1}"),
      ReplaceableToken("token-2", 0, 14, 10),
      ReplaceableToken("token_3", 1, 25, 12)))
    val u = ParameterTokens.parse(
      "this is #{_token_ 1} and #{token-2 not finished")
    assert(u === Seq(ReplaceableToken("_token_ 1", 0, 8, 12)))
  }

  test("invalid token names throw with the reference message " +
       "(ParameterTokenParserTest.cpp:90-100)") {
    def msg(bad: String) = "Parameter Operation: Invalid token name: '" +
      bad + "'. Only alpha-numeric characters (a-z, A-Z, 0-9), hyphens " +
      "( - ), underscores ( _ ), periods ( . ), and spaces are allowed " +
      "in token name."
    Seq("#{}" -> "", "#{#}" -> "#", "#{[]}" -> "[]", "#{a{}" -> "a{",
        "#{$$}" -> "$$").foreach { case (in, bad) =>
      val e = intercept[ParameterException](ParameterTokens.parse(in))
      assert(e.getMessage === msg(bad), in)
    }
  }

  private def ctx(params: (String, String, Boolean)*): ResolvedParameterContext =
    ParameterContexts.build(Seq(ParameterContextDef("test_context",
      params.map(p => ParameterDef(p._1, p._2, p._3)))))("test_context")

  test("token replacement incl. escaped forms " +
       "(ParameterTokenParserTest.cpp:102-117)") {
    val c = ctx(("what", "love", false), ("who", "me", false))
    assert(ParameterTokens.substitute(
      "## What is #{what}, baby don't hurt #{who}, don't hurt #{who}, no more ##",
      Some(c), sensitive = false) ===
      "## What is love, baby don't hurt me, don't hurt me, no more ##")
    val in = "### What is #####{what}, baby don't hurt ###{who}, " +
      "don't hurt ###{who}, no ####{more} ##{"
    assert(ParameterTokens.parse(in).size === 4)
    assert(ParameterTokens.substitute(in, Some(c), sensitive = false) ===
      "### What is ##love, baby don't hurt #me, don't hurt #me, " +
        "no ##{more} ##{")
  }

  test("replacement errors: missing parameter, sensitivity mismatch, no " +
       "context (ParameterTokenParserTest.cpp:119-148)") {
    val c = ctx(("what", "love", false))
    val missing = intercept[ParameterException](ParameterTokens.substitute(
      "hurt #{who}", Some(c), sensitive = false))
    assert(missing.getMessage ===
      "Parameter Operation: Parameter 'who' not found")
    val mismatch = intercept[ParameterException](ParameterTokens.substitute(
      "What is #{what}", Some(c), sensitive = true))
    assert(mismatch.getMessage === "Parameter Operation: Non-sensitive " +
      "parameter 'what' cannot be referenced in a sensitive property")
    val sens = ctx(("secret", "v", true))
    val reverse = intercept[ParameterException](ParameterTokens.substitute(
      "#{secret}", Some(sens), sensitive = false))
    assert(reverse.getMessage === "Parameter Operation: Sensitive " +
      "parameter 'secret' cannot be referenced in a non-sensitive property")
    val noCtx = intercept[ParameterException](ParameterTokens.substitute(
      "What is #{what}", None, sensitive = false))
    assert(noCtx.getMessage === "Parameter Operation: Property references " +
      "a parameter in its value, but no parameter context was provided.")
    // escaped-only input needs no context at all (cpp:141-148)
    assert(ParameterTokens.substitute("No ##{parameters} are ####{present}",
      None, sensitive = false) === "No #{parameters} are ##{present}")
    // sensitive param into sensitive property substitutes (cpp:150-160;
    // the reference decrypts, this engine carries values as-is)
    assert(ParameterTokens.substitute("What is #{secret}", Some(sens),
      sensitive = true) === "What is v")
  }

  // ----------------- FlowJsonTests.cpp parameter-context plane ----

  private def paramJson(contexts: String, rootExtra: String,
                        props: String,
                        procType: String =
                          "org.apache.nifi.processors.standard.GenerateFlowFile"): String =
    s"""{
       |  $contexts
       |  "rootGroup": {
       |    "name": "MiNiFi Flow",
       |    "processors": [{
       |      "identifier": "00000000-0000-0000-0000-000000000001",
       |      "name": "MyGenFF",
       |      "type": "$procType",
       |      "properties": { $props }
       |    }],
       |    $rootExtra
       |    "connections": []
       |  }
       |}""".stripMargin

  private val TwoContexts =
    """"parameterContexts": [
      |  {"identifier": "721e10b7-8e00-3188-9a27-476cca376978",
      |   "name": "my-context",
      |   "parameters": [
      |     {"name": "file_size", "sensitive": false, "value": "10 B"}]},
      |  {"identifier": "721e10b7-8e00-3188-9a27-476cca376789",
      |   "name": "other-context",
      |   "parameters": [
      |     {"name": "batch_size", "sensitive": false, "value": "12"}]}
      |],""".stripMargin

  test("parameters substitute from the group's context " +
       "(FlowJsonTests.cpp:42-195)") {
    val f = FlowConfig.parseJson(paramJson(TwoContexts,
      """"parameterContextName": "my-context",""",
      """"File Size": "#{file_size}", "Data Format": "Text""""))
    assert(f.processor("MyGenFF").properties("File Size") === "10 B")
  }

  test("parameters from a different context are not visible " +
       "(FlowJsonTests.cpp:235-294)") {
    val e = intercept[ParameterException](FlowConfig.parseJson(paramJson(
      TwoContexts, """"parameterContextName": "my-context",""",
      """"File Size": "#{file_size}", "Batch Size": "#{batch_size}"""")))
    assert(e.getMessage ===
      "Parameter Operation: Parameter 'batch_size' not found")
  }

  test("duplicate context names and duplicate parameter names are " +
       "rejected (FlowJsonTests.cpp:296-379)") {
    val dupCtx = intercept[IllegalArgumentException](
      ParameterContexts.build(Seq(
        ParameterContextDef("my-context", Seq(ParameterDef("a", "1"))),
        ParameterContextDef("my-context", Seq(ParameterDef("b", "2"))))))
    assert(dupCtx.getMessage === "Parameter context name 'my-context' " +
      "already exists, parameter context names must be unique!")
    val dupParam = intercept[ParameterException](
      ParameterContexts.build(Seq(ParameterContextDef("c", Seq(
        ParameterDef("file_size", "10 B"), ParameterDef("file_size", "12 B"))))))
    assert(dupParam.getMessage === "Parameter Operation: Parameter name " +
      "'file_size' already exists, parameter names must be unique within " +
      "a parameter context!")
  }

  test("non-sensitive parameter cannot feed a sensitive property " +
       "(FlowJsonTests.cpp:381-468; sensitivity from the processor's " +
       "property declaration, e.g. InvokeHTTP Proxy Password)") {
    val e = intercept[ParameterException](FlowConfig.parseJson(paramJson(
      TwoContexts, """"parameterContextName": "my-context",""",
      """"Proxy Password": "#{file_size}"""",
      procType = "org.apache.nifi.minifi.processors.InvokeHTTP")))
    assert(e.getMessage === "Parameter Operation: Non-sensitive parameter " +
      "'file_size' cannot be referenced in a sensitive property")
  }

  test("sensitivity is scoped to the declaring class: a DYNAMIC property " +
       "named like a sensitive one is never sensitive " +
       "(StructuredConfiguration.cpp:819-828,896-912 — getSupportedProperty " +
       "drives is_sensitive; unsupported names default false)") {
    // "Proxy Password" is InvokeHTTP's declaration — on GenerateFlowFile
    // it is a dynamic property, so a non-sensitive #{param} is fine
    val f = FlowConfig.parseJson(paramJson(TwoContexts,
      """"parameterContextName": "my-context",""",
      """"Proxy Password": "#{file_size}""""))
    assert(f.processor("MyGenFF").properties("Proxy Password") === "10 B")
    // a RouteOnAttribute rule named "Password" is likewise dynamic
    val r = FlowConfig.parseJson(paramJson(TwoContexts,
      """"parameterContextName": "my-context",""",
      """"Password": "#{file_size}"""",
      procType = "org.apache.nifi.minifi.processors.RouteOnAttribute"))
    assert(r.processor("MyGenFF").properties("Password") === "10 B")
    // but the SAME name on a class that declares it sensitive still
    // enforces the pairing rule (AbstractMQTTProcessor.h:153)
    val e = intercept[ParameterException](FlowConfig.parseJson(paramJson(
      TwoContexts, """"parameterContextName": "my-context",""",
      """"Password": "#{file_size}"""",
      procType = "org.apache.nifi.minifi.processors.ConsumeMQTT")))
    assert(e.getMessage === "Parameter Operation: Non-sensitive parameter " +
      "'file_size' cannot be referenced in a sensitive property")
  }

  test("sensitive property value sequences enforce the pairing rule per " +
       "element (FlowJsonTests.cpp:424-468)") {
    val e = intercept[ParameterException](FlowConfig.parseJson(paramJson(
      TwoContexts, """"parameterContextName": "my-context",""",
      """"Proxy Password": [{"value": "#{file_size}"}]""",
      procType = "org.apache.nifi.minifi.processors.InvokeHTTP")))
    assert(e.getMessage === "Parameter Operation: Non-sensitive parameter " +
      "'file_size' cannot be referenced in a sensitive property")
  }

  test("parameters work in nested groups but do NOT inherit from the " +
       "parent group's context (FlowJsonTests.cpp:470-648)") {
    def nested(subProps: String) = s"""{
      |  $TwoContexts
      |  "rootGroup": {
      |    "name": "MiNiFi Flow",
      |    "processors": [{
      |      "identifier": "1", "name": "MyGenFF", "type": "x.GenerateFlowFile",
      |      "properties": {"Batch Size": "#{batch_size}"}
      |    }],
      |    "parameterContextName": "other-context",
      |    "connections": [],
      |    "processGroups": [{
      |      "name": "sub",
      |      "processors": [{
      |        "identifier": "2", "name": "SubGenFF", "type": "x.GenerateFlowFile",
      |        "properties": { $subProps }
      |      }],
      |      "parameterContextName": "my-context",
      |      "connections": []
      |    }]
      |  }
      |}""".stripMargin
    val ok = FlowConfig.parseJson(nested(""""File Size": "#{file_size}""""))
    assert(ok.processor("MyGenFF").properties("Batch Size") === "12")
    assert(ok.processor("SubGenFF").properties("File Size") === "10 B")
    // the subgroup resolves ONLY its own context
    val e = intercept[ParameterException](FlowConfig.parseJson(
      nested(""""File Size": "#{file_size}", "Batch Size": "#{batch_size}"""")))
    assert(e.getMessage ===
      "Parameter Operation: Parameter 'batch_size' not found")
  }

  test("no parameter context defined: tokens throw " +
       "(FlowJsonTests.cpp:650-703)") {
    val e = intercept[ParameterException](FlowConfig.parseJson(paramJson(
      "", "", """"Simple Property": "#{my_value}"""")))
    assert(e.getMessage === "Parameter Operation: Property references a " +
      "parameter in its value, but no parameter context was provided.")
  }

  test("property value sequences substitute per element " +
       "(FlowJsonTests.cpp:705-825)") {
    val f = FlowConfig.parseJson(paramJson(
      """"parameterContexts": [
        |  {"identifier": "7", "name": "my-context",
        |   "parameters": [
        |     {"name": "first_value", "sensitive": false, "value": "value1"},
        |     {"name": "second_value", "sensitive": false, "value": "value2"}]}
        |],""".stripMargin,
      """"parameterContextName": "my-context",""",
      """"Simple Property": [
        |  {"value": "#{first_value}"}, {"value": "#{second_value}"}]""".stripMargin))
    val p = f.processor("MyGenFF")
    assert(p.propertyLists("Simple Property") === Seq("value1", "value2"))
    assert(p.properties("Simple Property") === "value1") // first value
  }

  test("parameter context inheritance: resolution order, self/unknown/" +
       "cycle rejection (FlowJsonTests.cpp:1189-1512)") {
    // inheritance order is respected: own first, then inherited in order
    val ordered = ParameterContexts.build(Seq(
      ParameterContextDef("a-context", Seq(
        ParameterDef("a_parameter", "1"), ParameterDef("b_parameter", "2"))),
      ParameterContextDef("b-context", Seq(
        ParameterDef("b_parameter", "3"), ParameterDef("c_parameter", "4"))),
      ParameterContextDef("c-context", Seq(
        ParameterDef("c_parameter", "5")),
        inherits = Seq("b-context", "a-context"))))
    val c = ordered("c-context")
    assert(c.getParameter("a_parameter").get.value === "1")
    assert(c.getParameter("b_parameter").get.value === "3")
    assert(c.getParameter("c_parameter").get.value === "5")
    // self-inheritance
    val self = intercept[IllegalArgumentException](ParameterContexts.build(
      Seq(ParameterContextDef("base-context", Nil,
        inherits = Seq("base-context")))))
    assert(self.getMessage === "Inherited parameter context 'base-context' " +
      "cannot be the same as the parameter context!")
    // unknown
    val unknown = intercept[IllegalArgumentException](ParameterContexts.build(
      Seq(ParameterContextDef("base-context", Nil,
        inherits = Seq("unknown")))))
    assert(unknown.getMessage ===
      "Inherited parameter context 'unknown' does not exist!")
    // cycle a -> c -> b -> a
    val cycle = intercept[IllegalArgumentException](ParameterContexts.build(Seq(
      ParameterContextDef("a-context", Nil, inherits = Seq("c-context")),
      ParameterContextDef("b-context", Nil, inherits = Seq("a-context")),
      ParameterContextDef("c-context", Nil,
        inherits = Seq("d-context", "b-context")),
      ParameterContextDef("d-context", Nil))))
    assert(cycle.getMessage.startsWith("Circular references in Parameter " +
      "Context inheritance are not allowed. Inheritance cycle was detected"))
  }

  test("parameters substitute in controller services " +
       "(FlowJsonTests.cpp:1070-1187)") {
    val f = FlowConfig.parseJson(
      """{
        |  "parameterContexts": [
        |    {"identifier": "7", "name": "my-context",
        |     "parameters": [
        |       {"name": "cb_name", "sensitive": false, "value": "couch"}]}
        |  ],
        |  "rootGroup": {
        |    "name": "MiNiFi Flow",
        |    "processors": [],
        |    "controllerServices": [{
        |      "identifier": "svc1", "name": "cluster",
        |      "type": "x.CouchbaseClusterService",
        |      "properties": {"Connection String": "#{cb_name}"}
        |    }],
        |    "parameterContextName": "my-context",
        |    "connections": []
        |  }
        |}""".stripMargin)
    assert(f.service("cluster").properties("Connection String") === "couch")
  }

  test("YAML spelling of the parameter-context plane " +
       "(YamlFlowSerializerTests.cpp:85, FlowSchema.cpp:86-93)") {
    val f = FlowConfig.parseYaml(
      """Flow Controller:
        |  name: root
        |Parameter Contexts:
        |  - id: 721e10b7-8e00-3188-9a27-476cca376978
        |    name: my-context
        |    description: my parameter context
        |    Parameters:
        |      - name: file_sz
        |        description: ""
        |        sensitive: false
        |        value: 100B
        |Parameter Context Name: my-context
        |Processors:
        |- id: gen
        |  name: gen
        |  class: GenerateFlowFile
        |  Properties:
        |    File Size: '#{file_sz}'
        |Connections: []
        |""".stripMargin)
    assert(f.parameterContexts ===
      Seq(ParameterContextDef("my-context", Seq(ParameterDef("file_sz", "100B")))))
    assert(f.processor("gen").properties("File Size") === "100B")
  }
}
