package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.flow._

/**
 * Flow-config → DAG assembly — SURVEY §3.1 (YAML "MiNiFi Config Version: 3"
 * and JSON rootGroup schemas; examples/getfile_putfile_config.{yml,json},
 * http_post_config.yml shapes re-typed as fixtures).
 */
class FlowSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("Units: data sizes and durations parse the reference spellings") {
    assert(Units.parseBytes("1 MB") === (1L << 20))
    assert(Units.parseBytes("10 kB") === 10 * (1L << 10))
    assert(Units.parseBytes("7") === 7L)
    assert(Units.parseDurationMs("1000 ms") === 1000L)
    assert(Units.parseDurationMs("2 sec") === 2000L)
    assert(Units.parseDurationMs("5 min") === 300000L)
    assert(Units.parseBool("'true'".replaceAll("'", "")) === true)
  }

  test("YAML v3 parse: processors, properties, connections, auto-terminate") {
    val yml =
      """MiNiFi Config Version: 3
        |Flow Controller:
        |  name: test flow
        |Processors:
        |- name: src
        |  id: aaa
        |  class: org.apache.nifi.minifi.processors.GetFile
        |  scheduling strategy: TIMER_DRIVEN
        |  scheduling period: 1000 ms
        |  Properties:
        |    Input Directory: /tmp/in
        |    Keep Source File: 'true'
        |- name: sink
        |  id: bbb
        |  class: org.apache.nifi.minifi.processors.PutFile
        |  scheduling strategy: EVENT_DRIVEN
        |  auto-terminated relationships list:
        |  - failure
        |  Properties:
        |    Directory: /tmp/out
        |Connections:
        |- name: src/success/sink
        |  id: ccc
        |  source id: aaa
        |  source relationship names:
        |  - success
        |  destination id: bbb
        |""".stripMargin
    val f = FlowConfig.parse(yml)
    assert(f.name === "test flow")
    assert(f.processors.map(_.kind) === Seq("GetFile", "PutFile"))
    assert(f.processor("aaa").properties("Input Directory") === "/tmp/in")
    assert(f.processor("sink").autoTerminated === Set("failure"))
    assert(f.connections === Seq(ConnectionDef("ccc", "src/success/sink",
      "aaa", Seq("success"), "bbb", None)))
  }

  test("parser quirks from shipped configs: scalar relationship names, " +
       "trailing JSON commas") {
    // http_post_config.yml writes "source relationship names: retry"
    // (bare scalar under the plural key)
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- {name: a, id: a, class: x.A}
        |- {name: b, id: b, class: x.B}
        |Connections:
        |- id: c
        |  source id: a
        |  source relationship names: retry
        |  destination id: b
        |""".stripMargin
    assert(FlowConfig.parse(yml).connections.head.relationships === Seq("retry"))
    // couchbase_mtls_authentication.json carries a trailing comma
    val json =
      """{"rootGroup": {"name": "t",
        |  "processors": [{"name": "p", "identifier": "p", "type": "x.P",
        |                  "properties": {"k": "v",}}],
        |  "connections": []}}""".stripMargin
    assert(FlowConfig.parse(json).processors.head.properties("k") === "v")
  }

  test("nested process groups flatten and standalone funnels become " +
       "Funnel processors") {
    val json =
      """{"rootGroup": {"name": "root",
        |  "processors": [{"name": "a", "identifier": "a", "type": "x.GenerateFlowFile",
        |    "properties": {"Batch Size": "2", "Custom Text": "hi"}}],
        |  "funnels": [{"identifier": "fun1"}],
        |  "connections": [
        |    {"identifier": "c1", "source": {"id": "a"},
        |     "destination": {"id": "fun1"}, "selectedRelationships": ["success"]},
        |    {"identifier": "c2", "source": {"id": "fun1"},
        |     "destination": {"id": "b"}, "selectedRelationships": ["success"]}],
        |  "processGroups": [
        |    {"name": "child",
        |     "processors": [{"name": "b", "identifier": "b",
        |       "type": "x.UpdateAttribute", "properties": {"tag": "child"}}],
        |     "connections": []}]}}""".stripMargin
    val f = FlowConfig.parse(json)
    assert(f.processors.map(_.kind).toSet === Set("GenerateFlowFile",
      "Funnel", "UpdateAttribute"))
    // connection resolution is GROUP-SCOPED (ProcessGroup.cpp:412-474,
    // YamlProcessGroupParserTests.cpp "Cannot connect processors from
    // different groups"): c2 targets a child group's processor by id, so
    // its destination stays unresolved with the reference's error line,
    // and the child processor is simply never scheduled this sweep
    assert(f.resolutionErrors === Seq("Cannot find the destination " +
      "processor with id 'b' for the connection [name = 'c2', id = 'c2']"))
    assert(f.connections.find(_.id == "c2").get.destinationId === "")
    val result = FlowRunner.run(spark, f)
    assert(result.output("b").count() === 0)
  }

  test("JSON rootGroup parse mirrors the YAML model") {
    val json =
      """{"rootGroup": {
        |  "name": "j flow",
        |  "processors": [
        |    {"name": "gen", "identifier": "g1",
        |     "type": "org.apache.nifi.minifi.processors.GenerateFlowFile",
        |     "schedulingStrategy": "TIMER_DRIVEN",
        |     "schedulingPeriod": "1 sec",
        |     "properties": {"Batch Size": "3", "File Size": "10 B",
        |                    "Data Format": "Text"},
        |     "autoTerminatedRelationships": []}],
        |  "connections": []}}""".stripMargin
    val f = FlowConfig.parse(json)
    assert(f.name === "j flow")
    assert(f.processors.head.kind === "GenerateFlowFile")
    assert(f.processors.head.properties("Batch Size") === "3")
  }

  test("GetFile -> PutFile flow copies files end to end " +
       "(getfile_putfile_config.yml shape)") {
    val inDir = tmpDir("flow-in")
    val outDir = tmpDir("flow-out")
    Files.write(Paths.get(inDir, "a.txt"), "alpha".getBytes)
    Files.write(Paths.get(inDir, "b.txt"), "beta".getBytes)
    Files.write(Paths.get(inDir, ".hidden"), "x".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $inDir
         |    Ignore Hidden Files: 'true'
         |- name: put
         |  id: p
         |  class: org.apache.nifi.minifi.processors.PutFile
         |  auto-terminated relationships list: [success, failure]
         |  Properties:
         |    Directory: $outDir
         |    Conflict Resolution Strategy: fail
         |    Create Missing Directories: 'true'
         |Connections:
         |- name: get/success/put
         |  id: c
         |  source id: g
         |  source relationship names: [success]
         |  destination id: p
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val putOut = result.output("put")
    assert(putOut.filter(col("relationship") === "success").count() === 2)
    assert(new String(Files.readAllBytes(Paths.get(outDir, "a.txt"))) ===
      "alpha")
    assert(new String(Files.readAllBytes(Paths.get(outDir, "b.txt"))) ===
      "beta")
    // second sweep: conflict strategy fail routes both to failure
    val again = FlowRunner.run(spark, FlowConfig.parse(yml))
    assert(again.output("put")
      .filter(col("relationship") === "failure").count() === 2)
    // replace overwrites; ignore succeeds without touching the file
    // (PutFileTests.cpp conflict battery)
    Files.write(Paths.get(inDir, "a.txt"), "alpha2".getBytes)
    val ymlReplace = yml.replace("Conflict Resolution Strategy: fail",
      "Conflict Resolution Strategy: replace")
    assert(FlowRunner.run(spark, FlowConfig.parse(ymlReplace))
      .output("put").filter(col("relationship") === "success").count() === 2)
    assert(new String(Files.readAllBytes(Paths.get(outDir, "a.txt"))) ===
      "alpha2")
    Files.write(Paths.get(inDir, "a.txt"), "alpha3".getBytes)
    val ymlIgnore = yml.replace("Conflict Resolution Strategy: fail",
      "Conflict Resolution Strategy: ignore")
    assert(FlowRunner.run(spark, FlowConfig.parse(ymlIgnore))
      .output("put").filter(col("relationship") === "success").count() === 2)
    assert(new String(Files.readAllBytes(Paths.get(outDir, "a.txt"))) ===
      "alpha2")
  }

  test("GetFile sets path/absolute.path relative to Input Directory and " +
       "honors an explicit Batch Size (GetFileTests.cpp:220-292)") {
    val inDir = tmpDir("flow-attr-in")
    Files.createDirectories(Paths.get(inDir, "subdir"))
    Files.write(Paths.get(inDir, "direct.txt"), "d".getBytes)
    Files.write(Paths.get(inDir, "subdir", "sub_file.txt"), "s".getBytes)
    def yml(extra: String) =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $inDir
         |$extra
         |""".stripMargin
    val out = FlowRunner.run(spark, FlowConfig.parse(yml(""))).output("get")
    val attrs = out.select(col(graft.core.FlowFrame.Attributes)).collect()
      .map(_.getMap[String, String](0).toMap)
      .map(m => m("filename") -> m).toMap
    // file directly in the input directory (GetFileTests.cpp:282)
    assert(attrs("direct.txt")("path") === "./")
    assert(attrs("direct.txt")("absolute.path") === s"$inDir/")
    // file in a subdirectory (GetFileTests.cpp:272)
    assert(attrs("sub_file.txt")("path") === "subdir/")
    assert(attrs("sub_file.txt")("absolute.path") === s"$inDir/subdir/")
    // explicit Batch Size caps the files of one trigger
    val capped = FlowRunner.run(spark, FlowConfig.parse(yml(
      "    Batch Size: '1'"))).output("get")
    assert(capped.count() === 1)
  }

  test("PutFile evaluates Directory per row via EL; missing required " +
       "property names the processor and key") {
    val inDir = tmpDir("flow-el-in")
    val outRoot = tmpDir("flow-el-out")
    Files.write(Paths.get(inDir, "a.txt"), "alpha".getBytes)
    Files.write(Paths.get(inDir, "b.txt"), "beta".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $inDir
         |- name: put
         |  id: p
         |  class: org.apache.nifi.minifi.processors.PutFile
         |  auto-terminated relationships list: [success, failure]
         |  Properties:
         |    Directory: $outRoot/$${filename}.d
         |Connections:
         |- name: get/success/put
         |  id: c
         |  source id: g
         |  source relationship names: [success]
         |  destination id: p
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    assert(result.output("put")
      .filter(col("relationship") === "success").count() === 2)
    assert(new String(Files.readAllBytes(
      Paths.get(outRoot, "a.txt.d", "a.txt"))) === "alpha")
    assert(new String(Files.readAllBytes(
      Paths.get(outRoot, "b.txt.d", "b.txt"))) === "beta")
    // required-property validation: drop Directory entirely
    val broken = yml.replace(s"    Directory: $outRoot/$${filename}.d\n", "")
    val err = intercept[IllegalArgumentException] {
      FlowRunner.run(spark, FlowConfig.parse(broken))
    }
    assert(err.getMessage.contains("put"))
    assert(err.getMessage.contains("Directory"))
  }

  test("CompressContent decompress flow routes corrupt archives to failure " +
       "with original content (CompressContentTests.cpp:681)") {
    val inDir = tmpDir("flow-gz-in")
    // one valid gzip member, one junk file
    val gzBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write("real payload".getBytes("UTF-8")); g.close()
      bos.toByteArray
    }
    Files.write(Paths.get(inDir, "good.gz"), gzBytes)
    Files.write(Paths.get(inDir, "bad.gz"), "banana bread".getBytes("UTF-8"))
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $inDir
         |- name: unzip
         |  id: u
         |  class: org.apache.nifi.minifi.processors.CompressContent
         |  auto-terminated relationships list: [success, failure]
         |  Properties:
         |    Mode: decompress
         |    Compression Format: gzip
         |    Encapsulate in TAR: 'false'
         |Connections:
         |- name: get/success/unzip
         |  id: c
         |  source id: g
         |  source relationship names: [success]
         |  destination id: u
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val out = result.output("unzip")
      .select(col("relationship"), col("content").cast("string").as("c"),
        element_at(col("attributes"), "filename").as("f"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out === Set(
      ("success", "real payload", "good.gz"),
      ("failure", "banana bread", "bad.gz")))
  }

  test("CompressContent reference defaults: TAR encapsulation round trip, " +
       "filename/mime bookkeeping, USE_MIME_TYPE resolution, non-TAR " +
       "non-GZIP rejection (CompressContentTests.cpp:270-335)") {
    import graft.core.FlowFrame
    def proc(props: (String, String)*) = graft.flow.ProcessorDef("c", "comp",
      "org.apache.nifi.minifi.processors.CompressContent", "TIMER_DRIVEN",
      "1 sec", Set.empty, props.toMap)
    def ff(content: String, attrs: Map[String, String]) = {
      import scala.jdk.CollectionConverters._
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("uuid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("attributes",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))
      spark.createDataFrame(
        Seq(org.apache.spark.sql.Row("u1", content, attrs)).asJava, schema)
        .withColumn("entryDate", current_timestamp())
        .withColumn("relationship", lit(null: String))
    }
    // compress with the reference defaults (encapsulate=true) + gzip format
    val comp = graft.flow.Processors.apply(spark, proc(
      "Mode" -> "compress", "Compression Format" -> "gzip",
      "Update Filename" -> "true"),
      Some(ff("test content", Map("filename" -> "inputfile")))).collect()(0)
    val cAttrs = comp.getAs[Map[String, String]]("attributes")
    assert(comp.getAs[String]("relationship") === "success")
    assert(cAttrs("mime.type") === "application/gzip")
    assert(cAttrs("filename") === "inputfile.tar.gz")
    val gzBytes = comp.getAs[Array[Byte]]("content")
    // ...bytes are a gzip of a tar whose single entry holds the content
    val tin = new org.apache.commons.compress.archivers.tar.TarArchiveInputStream(
      new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(gzBytes)))
    val entry = tin.getNextEntry
    assert(entry.getName === "inputfile")
    assert(new String(tin.readAllBytes(), "UTF-8") === "test content")
    // decompress via USE_MIME_TYPE (the reference default format) reads
    // mime.type, unwraps the tar, strips the extension, removes mime.type
    val b64 = java.util.Base64.getEncoder.encodeToString(gzBytes)
    val decIn = ff("", Map.empty).withColumn(FlowFrame.Content,
      unbase64(lit(b64))).withColumn(FlowFrame.Attributes,
      map(lit("filename"), lit("inputfile.tar.gz"),
        lit("mime.type"), lit("application/gzip")))
    val dec = graft.flow.Processors.apply(spark, proc(
      "Mode" -> "decompress", "Update Filename" -> "true"),
      Some(decIn)).collect()(0)
    val dAttrs = dec.getAs[Map[String, String]]("attributes")
    assert(dec.getAs[String]("relationship") === "success")
    assert(new String(dec.getAs[Array[Byte]]("content"), "UTF-8") === "test content")
    assert(!dAttrs.contains("mime.type"))
    assert(dAttrs("filename") === "inputfile")
    // unknown mime in USE_MIME_TYPE mode passes through on success
    val unknown = graft.flow.Processors.apply(spark, proc(
      "Mode" -> "compress"),
      Some(ff("x", Map("mime.type" -> "text/plain")))).collect()(0)
    assert(unknown.getAs[String]("relationship") === "success")
    assert(new String(unknown.getAs[Array[Byte]]("content"), "UTF-8") === "x")
    // missing mime in USE_MIME_TYPE mode routes to failure
    val missing = graft.flow.Processors.apply(spark, proc(
      "Mode" -> "compress"), Some(ff("x", Map.empty))).collect()(0)
    assert(missing.getAs[String]("relationship") === "failure")
    // non-TAR encapsulation only supports gzip (CompressContent.cpp:110)
    val nonTar = graft.flow.Processors.apply(spark, proc(
      "Mode" -> "compress", "Compression Format" -> "bzip2",
      "Encapsulate in TAR" -> "false"),
      Some(ff("x", Map.empty))).collect()(0)
    assert(nonTar.getAs[String]("relationship") === "failure")
  }

  test("MergeContent flow carries member attributes through the " +
       "Attribute Strategy (MergeFileTests.cpp:600-700 end to end)") {
    val inDir = tmpDir("flow-mc-attrs")
    Files.write(Paths.get(inDir, "doc.txt"), "l1\nl2\nl3".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $inDir
         |- name: split
         |  id: s
         |  class: org.apache.nifi.minifi.processors.SplitText
         |  Properties:
         |    Line Split Count: '1'
         |- name: tag
         |  id: t
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    tagCommon: common
         |- name: merge
         |  id: m
         |  class: org.apache.nifi.minifi.processors.MergeContent
         |  auto-terminated relationships list: [merged, failure]
         |  Properties:
         |    Merge Strategy: Defragment
         |    Demarcator: "\\n"
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: s}
         |- {id: c2, source id: s, source relationship names: [splits], destination id: t}
         |- {id: c3, source id: t, source relationship names: [success], destination id: m}
         |""".stripMargin
    val out = FlowRunner.run(spark, FlowConfig.parse(yml)).output("merge")
      .filter(col("relationship") === "merged")
      .select(col("attributes")).collect()
    assert(out.length === 1)
    val attrs = out(0).getAs[Map[String, String]](0)
    assert(attrs.get("tagCommon") === Some("common"))
    assert(attrs.get("merge.count") === Some("3"))
  }

  test("SplitJson battery: scalar/object/multi-match arrays, null value " +
       "representations, non-array and no-match failures " +
       "(SplitJsonTests.cpp:67-150)") {
    def run(content: String, path: String, props: String = "") = {
      val yml =
        s"""MiNiFi Config Version: 3
           |Processors:
           |- name: gen
           |  id: g
           |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
           |  Properties: {Batch Size: '1', Custom Text: '$content'}
           |- name: sj
           |  id: s
           |  class: org.apache.nifi.minifi.processors.SplitJson
           |  Properties:
           |    JsonPath Expression: $path
           |$props
           |Connections:
           |- {id: c1, source id: g, source relationship names: [success], destination id: s}
           |""".stripMargin
      val result = FlowRunner.run(spark, FlowConfig.parse(yml))
      val rows = result.output("sj")
        .orderBy(element_at(col("attributes"), "fragment.index").cast("int"))
        .select("relationship", "content").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      result.release()
      rows
    }
    // array of scalars: strings render unquoted (cpp:128)
    assert(run("""{"names": ["John", "Jane"]}""", "$.names") ===
      Seq(("split", "John"), ("split", "Jane")))
    // multi-match: each match is one split, arrays as JSON text (cpp:132)
    val depts = """{"company": {"departments": [{"name": "Engineering", "employees": ["Alice", "Bob"]}, {"name": "Marketing", "employees": "Dave"}]}}"""
    assert(run(depts, "$.company.departments[*].employees") ===
      Seq(("split", """["Alice","Bob"]"""), ("split", "Dave")))
    // array of objects: compact JSON per element (cpp:138)
    assert(run(depts, "$.company.departments[*]").map(_._1) ===
      Seq("split", "split"))
    // null elements render per Null Value Representation, NOT failure
    val fruits = """{"fruits": ["Apple", null, "Banana", null, "Cherry"]}"""
    assert(run(fruits, "$.fruits") === Seq(("split", "Apple"), ("split", ""),
      ("split", "Banana"), ("split", ""), ("split", "Cherry")))
    assert(run(fruits, "$.fruits",
      "    Null Value Representation: the string 'null'") ===
      Seq(("split", "Apple"), ("split", "null"), ("split", "Banana"),
        ("split", "null"), ("split", "Cherry")))
    // non-array result and unmatched path route the original to failure
    assert(run("""{"name": "John"}""", "$.name") ===
      Seq(("failure", """{"name": "John"}""")))
    assert(run("""{"name": "John"}""", "$.email") ===
      Seq(("failure", """{"name": "John"}""")))
  }

  test("SplitJson and DefragmentText flow dispatch produce fragments and " +
       "reassembled messages") {
    val inDir = tmpDir("flow-sj")
    Files.write(Paths.get(inDir, "arr.json"),
      """{"items": [{"k": 1}, {"k": 2}]}""".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $inDir
         |- name: sj
         |  id: s
         |  class: org.apache.nifi.minifi.processors.SplitJson
         |  Properties:
         |    JsonPath Expression: $$.items
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: s}
         |""".stripMargin
    val out = FlowRunner.run(spark, FlowConfig.parse(yml)).output("sj")
    val elems = out.select(col("content").cast("string")).collect()
      .map(_.getString(0)).toSet
    assert(elems === Set("""{"k":1}""", """{"k":2}"""))
    // fragment.count stamped for downstream Defragment merges
    assert(out.select(element_at(col("attributes"), "fragment.count"))
      .collect().map(_.getString(0)).toSet === Set("2"))
    // content without the array routes the ORIGINAL to failure, not to /dev/null
    Files.write(Paths.get(inDir, "bad.json"), """{"other": 1}""".getBytes)
    val rerun = FlowRunner.run(spark, FlowConfig.parse(yml)).output("sj")
    val failed = rerun.filter(col("relationship") === "failure")
      .select(col("content").cast("string")).collect().map(_.getString(0))
    assert(failed.toSeq === Seq("""{"other": 1}"""))

    // DefragmentText: START-pattern grouping over split lines
    val inDir2 = tmpDir("flow-df")
    Files.write(Paths.get(inDir2, "log.txt"),
      "START a\ncont b\nSTART c\ncont d".getBytes)
    val yml2 =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $inDir2
         |- name: split
         |  id: s
         |  class: org.apache.nifi.minifi.processors.SplitText
         |  Properties:
         |    Line Split Count: '1'
         |- name: defrag
         |  id: d
         |  class: org.apache.nifi.minifi.processors.DefragmentText
         |  Properties:
         |    Pattern: '^START'
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: s}
         |- {id: c2, source id: s, source relationship names: [splits], destination id: d}
         |""".stripMargin
    val msgs = FlowRunner.run(spark, FlowConfig.parse(yml2)).output("defrag")
      .select(col("content").cast("string")).collect()
      .map(_.getString(0)).toSet
    assert(msgs === Set("START a\ncont b", "START c\ncont d"))
  }

  test("GenerateFlowFile -> UpdateAttribute -> RouteOnAttribute routes by EL") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties:
        |    Batch Size: '10'
        |    File Size: 8 B
        |    Data Format: Text
        |- name: upd
        |  id: u
        |  class: org.apache.nifi.minifi.processors.UpdateAttribute
        |  Properties:
        |    parity: ${file_id:mod(2)}
        |- name: route
        |  id: r
        |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
        |  Properties:
        |    even: ${parity:equals(0)}
        |    odd: ${parity:equals(1)}
        |Connections:
        |- id: c1
        |  source id: g
        |  source relationship names: [success]
        |  destination id: u
        |- id: c2
        |  source id: u
        |  source relationship names: [success]
        |  destination id: r
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val routed = result.output("route")
    assert(result.edge("route", "even").count() === 5)
    assert(result.edge("route", "odd").count() === 5)
    assert(routed.filter(col("relationship") === "unmatched").count() === 0)
  }

  test("FlowResult.release unpersists fan-out caches: no persistent RDDs " +
       "outlive the flow") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties:
        |    Batch Size: '10'
        |    File Size: 8 B
        |    Data Format: Text
        |- name: route
        |  id: r
        |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
        |  Properties:
        |    even: ${file_id:mod(2):equals(0)}
        |    odd: ${file_id:mod(2):equals(1)}
        |- name: log1
        |  id: l1
        |  class: org.apache.nifi.minifi.processors.LogAttribute
        |- name: log2
        |  id: l2
        |  class: org.apache.nifi.minifi.processors.LogAttribute
        |Connections:
        |- id: c1
        |  source id: g
        |  source relationship names: [success]
        |  destination id: r
        |- id: c2
        |  source id: r
        |  source relationship names: [even]
        |  destination id: l1
        |- id: c3
        |  source id: r
        |  source relationship names: [odd]
        |  destination id: l2
        |""".stripMargin
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    assert(result.output("log1").count() === 5)
    assert(result.output("log2").count() === 5)
    // route feeds two edges, so its output was persisted for the sweep
    assert(result.persisted.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).nonEmpty)
    result.release()
    assert(spark.sparkContext.getPersistentRDDs.keySet.diff(before).isEmpty)
  }

  test("same-relationship fan-out clones FlowFiles: CLONE lineage with " +
       "deterministic child uuids and shared parents; split->merge flows " +
       "emit FORK/JOIN events") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '4', File Size: 4 B, Data Format: Text}
        |- name: log1
        |  id: l1
        |  class: org.apache.nifi.minifi.processors.LogAttribute
        |- name: log2
        |  id: l2
        |  class: org.apache.nifi.minifi.processors.LogAttribute
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: l1}
        |- {id: c2, source id: g, source relationship names: [success], destination id: l2}
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val ev1 = Lineage.events(result.output("log1")).collect()
    val ev2 = Lineage.events(result.output("log2")).collect()
    assert(ev1.length === 4 && ev2.length === 4)
    assert((ev1 ++ ev2).forall(_.getString(0) === "CLONE"))
    val p1 = ev1.map(r => (r.getSeq[String](2).head, r.getString(1))).toMap
    val p2 = ev2.map(r => (r.getSeq[String](2).head, r.getString(1))).toMap
    assert(p1.keySet === p2.keySet) // both clone sets derive from the same originals
    p1.foreach { case (parent, child) => assert(child === s"$parent@c1") }
    p2.foreach { case (parent, child) => assert(child === s"$parent@c2") }
    result.release()

    // distinct relationships on separate edges are routing, not cloning
    val routedYml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '4', File Size: 4 B, Data Format: Text}
        |- name: route
        |  id: r
        |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
        |  Properties:
        |    even: ${file_id:mod(2):equals(0)}
        |    odd: ${file_id:mod(2):equals(1)}
        |- name: log1
        |  id: l1
        |  class: org.apache.nifi.minifi.processors.LogAttribute
        |- name: log2
        |  id: l2
        |  class: org.apache.nifi.minifi.processors.LogAttribute
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: r}
        |- {id: c2, source id: r, source relationship names: [even], destination id: l1}
        |- {id: c3, source id: r, source relationship names: [odd], destination id: l2}
        |""".stripMargin
    val routed = FlowRunner.run(spark, FlowConfig.parse(routedYml))
    assert(Lineage.events(routed.output("log1")).count() === 0)
    routed.release()
  }

  test("retry cycle drops the back edge and still runs " +
       "(http_post_config.yml shape)") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '4', File Size: 4 B, Data Format: Text}
        |- name: retry
        |  id: r
        |  class: org.apache.nifi.processors.standard.RetryFlowFile
        |  Properties:
        |    Maximum Retries: '2'
        |- name: log
        |  id: l
        |  class: org.apache.nifi.minifi.processors.LogAttribute
        |Connections:
        |- id: c1
        |  source id: g
        |  source relationship names: [success]
        |  destination id: r
        |- id: c2
        |  source id: r
        |  source relationship names: [retry]
        |  destination id: g
        |- id: c3
        |  source id: r
        |  source relationship names: [retries_exceeded]
        |  destination id: l
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    assert(result.droppedEdges.map(_.id) === Seq("c2"))
    // fresh rows have retry count 0 -> all route to retry (queued for the
    // next sweep under the relaxed batch semantic), none exceeded yet
    assert(result.edge("retry", "retry").count() === 4)
    assert(result.output("log").count() === 0)
  }

  test("SplitText -> MergeContent Defragment round-trips content through " +
       "the fragment attrs") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties:
        |    Batch Size: '3'
        |    Custom Text: "l1\nl2\nl3\nl4\nl5"
        |- name: split
        |  id: s
        |  class: org.apache.nifi.processors.standard.SplitText
        |  Properties:
        |    Line Split Count: '2'
        |- name: merge
        |  id: m
        |  class: org.apache.nifi.minifi.processors.MergeContent
        |  Properties:
        |    Merge Strategy: Defragment
        |    Demarcator: "\n"
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: s}
        |- {id: c2, source id: s, source relationship names: [splits], destination id: m}
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val merged = result.edge("merge", "merged")
      .select(col("content"), element_at(col("attributes"), "merge.count"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(merged.length === 3)
    assert(merged.forall(_ === ("l1\nl2\nl3\nl4\nl5", "3")))
  }

  test("SplitText fragments inherit the parent's attributes, so filename " +
       "survives a split -> Defragment merge (ProcessSession::create(parent))") {
    val in = tmpDir("graft-split-inherit-in")
    Files.write(Paths.get(in, "a.log"), "a1\na2\na3".getBytes("UTF-8"))
    Files.write(Paths.get(in, "b.log"), "b1\nb2".getBytes("UTF-8"))
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $in
         |    Keep Source File: 'true'
         |- name: split
         |  id: s
         |  class: org.apache.nifi.minifi.processors.SplitText
         |  Properties:
         |    Line Split Count: '1'
         |- name: merge
         |  id: m
         |  class: org.apache.nifi.minifi.processors.MergeContent
         |  Properties:
         |    Merge Strategy: Defragment
         |    Demarcator: "\\n"
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: s}
         |- {id: c2, source id: s, source relationship names: [splits], destination id: m}
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val splits = result.edge("split", "splits")
      .select(element_at(col("attributes"), "filename"),
        element_at(col("attributes"), "fragment.index"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(splits.toSeq === Seq(("a.log", "1"), ("a.log", "2"), ("a.log", "3"),
      ("b.log", "1"), ("b.log", "2")))
    val merged = result.edge("merge", "merged")
      .select(element_at(col("attributes"), "filename"), col("content"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(merged.toSeq === Seq(("a.log", "a1\na2\na3"), ("b.log", "b1\nb2")))
  }

  test("GetFile -> SplitText -> MergeContent Defragment reads its input " +
       "once: the split plans no Exchange and no join, the merge exactly " +
       "one shuffle, no join and no cache") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val in = tmpDir("graft-split-merge-plan")
    Files.write(Paths.get(in, "a.log"), "a1\na2\na3".getBytes("UTF-8"))
    Files.write(Paths.get(in, "b.log"), "b1\nb2".getBytes("UTF-8"))
    // only newlines: every fragment trims to nothing, so the file is
    // forwarded whole as `original` — a passthrough row in the split output
    Files.write(Paths.get(in, "c.log"), "\n\n".getBytes("UTF-8"))
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $in
         |    Keep Source File: 'true'
         |- name: split
         |  id: s
         |  class: org.apache.nifi.minifi.processors.SplitText
         |  Properties:
         |    Line Split Count: '1'
         |- name: merge
         |  id: m
         |  class: org.apache.nifi.minifi.processors.MergeContent
         |  Properties:
         |    Merge Strategy: Defragment
         |    Demarcator: "\\n"
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: s}
         |- {id: c2, source id: s, source relationship names: [splits], destination id: m}
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    object nodes extends AdaptiveSparkPlanHelper
    // the AQE-final physical plan of a consumed output
    def executed(df: DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan
    }
    def count(plan: SparkPlan)(pf: PartialFunction[SparkPlan, SparkPlan]): Int =
      nodes.collect(plan)(pf).size
    val splitOut = result.output("split")
    assert(splitOut.groupBy("relationship").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ===
      Map("splits" -> 5L, "original" -> 1L))
    val split = executed(splitOut)
    assert(count(split) { case e: ShuffleExchangeLike => e } === 0, split)
    assert(count(split) { case j: BaseJoinExec => j } === 0, split)
    val mergeOut = result.output("merge")
    val merge = executed(mergeOut)
    assert(count(merge) { case e: ShuffleExchangeLike => e } === 1, merge)
    assert(count(merge) { case j: BaseJoinExec => j } === 0, merge)
    assert(count(merge) { case c: InMemoryTableScanExec => c } === 0, merge)
    assert(result.persisted.isEmpty)
    val merged = mergeOut
      .select(element_at(col("attributes"), "filename"), col("content"),
        col("relationship"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(merged.sorted.toSeq === Seq(("a.log", "a1\na2\na3", "merged"),
      ("b.log", "b1\nb2", "merged")))
  }

  test("a second sweep of one flow compiles no classes: entry time, EL " +
       "now() and uuids reach generated code as references, not literals") {
    val in = tmpDir("graft-codegen-in")
    val out = tmpDir("graft-codegen-out")
    Files.write(Paths.get(in, "a.log"), "a1\na2\na3".getBytes("UTF-8"))
    Files.write(Paths.get(in, "b.log"), "b1\nb2".getBytes("UTF-8"))
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: get
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties:
         |    Input Directory: $in
         |    Keep Source File: 'true'
         |- name: tag
         |  id: t
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    kind: $${filename:substringAfterLast('.')}
         |    seen.at: $${now():toNumber()}
         |    tag.id: $${UUID()}
         |- name: split
         |  id: s
         |  class: org.apache.nifi.minifi.processors.SplitText
         |  Properties:
         |    Line Split Count: '1'
         |- name: merge
         |  id: m
         |  class: org.apache.nifi.minifi.processors.MergeContent
         |  Properties:
         |    Merge Strategy: Defragment
         |    Demarcator: "\\n"
         |- name: put
         |  id: p
         |  class: org.apache.nifi.minifi.processors.PutFile
         |  auto-terminated relationships list: [success, failure]
         |  Properties:
         |    Directory: $out
         |    Conflict Resolution Strategy: replace
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: t}
         |- {id: c2, source id: t, source relationship names: [success], destination id: s}
         |- {id: c3, source id: s, source relationship names: [splits], destination id: m}
         |- {id: c4, source id: m, source relationship names: [merged], destination id: p}
         |""".stripMargin
    def sweep(): (Long, Seq[(String, String, String, String, Long)]) = {
      val c0 = Dev.compiles()
      val result = FlowRunner.run(spark, FlowConfig.parse(yml))
      val rows = result.output("put").select(col("relationship"),
          col("content"), element_at(col("attributes"), "tag.id"),
          col("uuid"), unix_millis(col("entryDate")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).sortBy(_._2).toSeq
      result.release()
      (Dev.compiles() - c0, rows)
    }
    val (_, first) = sweep()
    val (compiled, second) = sweep()
    assert(compiled === 0)
    assert(second.map(r => (r._1, r._2)) === Seq(
      ("success", "a1\na2\na3"), ("success", "b1\nb2")))
    assert(first.map(r => (r._1, r._2)) === second.map(r => (r._1, r._2)))
    // fresh values per sweep: new uuids and a later entry time
    assert(first.flatMap(r => Seq(r._3, r._4))
      .intersect(second.flatMap(r => Seq(r._3, r._4))).isEmpty)
    assert(second.map(_._5).min >= first.map(_._5).max)
  }

  test("SplitText failure and original rows are the parent FlowFile " +
       "untouched: uuid, attributes, content and entryDate") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val t0 = java.sql.Timestamp.valueOf("2020-01-02 03:04:05")
    val rows = Seq(
      Row("u-lines", Map("filename" -> "l.log", "k" -> "1"), "l1\nl2", t0),
      Row("u-empty", Map("filename" -> "e.log"), "", t0),
      Row("u-null", Map("filename" -> "n.log", "k" -> null), null, t0))
    val input = spark.createDataFrame(rows.asJava, StructType(Seq(
        StructField("uuid", StringType),
        StructField("attributes", MapType(StringType, StringType)),
        StructField("content", StringType),
        StructField("entryDate", TimestampType))))
      .withColumn("relationship", lit(null: String))
    def split(props: (String, String)*): Map[String, (Row, String)] =
      Processors.apply(spark, ProcessorDef("s", "split",
          "org.apache.nifi.minifi.processors.SplitText", "TIMER_DRIVEN",
          "1 sec", Set.empty, props.toMap), Some(input))
        .filter(col("relationship") =!= "splits")
        .select("uuid", "attributes", "content", "entryDate", "relationship")
        .collect()
        .map(r => r.getString(0) -> (Row(r.toSeq.take(4): _*), r.getString(4)))
        .toMap
    val parents = rows.map(r => r.getString(0) -> r).toMap
    // a header longer than every input routes each one to failure whole
    val overrun = split("Line Split Count" -> "1", "Header Line Count" -> "4")
    assert(overrun === parents.map { case (u, r) => u -> (r, "failure") })
    // empty and null content split into zero fragments: forwarded whole
    val zero = split("Line Split Count" -> "1")
    assert(zero === Map(
      "u-empty" -> (parents("u-empty"), "original"),
      "u-null" -> (parents("u-null"), "original")))
  }

  test("ExecuteProcess flow streams content through an external command") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '4', Custom Text: hello}
        |- name: exec
        |  id: e
        |  class: org.apache.nifi.minifi.processors.ExecuteProcess
        |  Properties:
        |    Command: tr
        |    Command Arguments: a-z A-Z
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: e}
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val out = result.output("exec").select("content")
      .collect().map(_.getString(0))
    assert(out.toSeq === Seq.fill(4)("HELLO"))
  }

  test("JoltTransformJSON flow shifts content; bad JSON routes to failure") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '1', Custom Text: '{"a": {"b": 7}}'}
        |- name: jolt
        |  id: j
        |  class: org.apache.nifi.minifi.processors.JoltTransformJSON
        |  Properties:
        |    Jolt Transformation DSL: Shift
        |    Jolt Specification: '{"a": {"b": "x.y"}}'
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: j}
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val rows = result.output("jolt")
      .select("relationship", "content").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq === Seq(("success", """{"x":{"y":7}}""")))
  }

  test("InvokeHTTP flow routes by status class against a loopback server") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def handler(status: Int): com.sun.net.httpserver.HttpHandler = ex => {
      val resp = "ok".getBytes
      ex.sendResponseHeaders(status, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    }
    server.createContext("/fine", handler(200))
    server.createContext("/boom", handler(503))
    server.start()
    try {
      val port = server.getAddress.getPort
      val yml =
        s"""MiNiFi Config Version: 3
           |Processors:
           |- name: gen
           |  id: g
           |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
           |  Properties: {Batch Size: '2', File Size: 4 B, Data Format: Text}
           |- name: path
           |  id: u
           |  class: org.apache.nifi.minifi.processors.UpdateAttribute
           |  Properties:
           |    target: $${file_id:mod(2):equals(0):ifElse('fine','boom')}
           |- name: http
           |  id: h
           |  class: org.apache.nifi.processors.standard.InvokeHTTP
           |  Properties:
           |    HTTP Method: POST
           |    Remote URL: http://127.0.0.1:$port/$${target}
           |Connections:
           |- {id: c1, source id: g, source relationship names: [success], destination id: u}
           |- {id: c2, source id: u, source relationship names: [success], destination id: h}
           |""".stripMargin
      val result = FlowRunner.run(spark, FlowConfig.parse(yml))
      val rows = result.output("http")
        .select(col("relationship"),
          element_at(col("attributes"), "invokehttp.status.code"),
          element_at(col("attributes"), "invokehttp.response.body"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSet
      assert(rows === Set(("success", "200", "ok"), ("retry", "503", "ok")))
    } finally server.stop(0)
  }

  test("InvokeHTTP sends matched attributes as headers under the invalid-" +
       "name policy; Put Response Body in Attribute lands the body " +
       "(InvokeHTTPTests.cpp:140-330)") {
    val seenHeaders =
      new java.util.concurrent.ConcurrentLinkedQueue[Map[String, String]]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/echo", ex => {
      import scala.jdk.CollectionConverters._
      seenHeaders.add(ex.getRequestHeaders.asScala
        .map { case (k, v) => k.toLowerCase -> v.get(0) }.toMap)
      val resp = "pong".getBytes
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp); ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      def yml(extra: String) =
        s"""MiNiFi Config Version: 3
           |Processors:
           |- name: gen
           |  id: g
           |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
           |  Properties: {Batch Size: '1', Custom Text: ping, Data Format: Text, Unique FlowFiles: 'false'}
           |- name: upd
           |  id: u
           |  class: org.apache.nifi.minifi.processors.UpdateAttribute
           |  Properties:
           |    x-good-header: good
           |    'x-bad:header': bad
           |- name: http
           |  id: h
           |  class: org.apache.nifi.processors.standard.InvokeHTTP
           |  Properties:
           |    HTTP Method: POST
           |    Remote URL: http://127.0.0.1:$port/echo
           |$extra
           |Connections:
           |- {id: c1, source id: g, source relationship names: [success], destination id: u}
           |- {id: c2, source id: u, source relationship names: [success], destination id: h}
           |""".stripMargin
      def run(extra: String) = FlowRunner.run(spark, FlowConfig.parse(yml(extra)))
        .output("http")
        .select(col("relationship"),
          element_at(col("attributes"), "resp.body"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq

      // transform (default): the invalid name arrives rewritten
      assert(run(
        """    Attributes to Send: x-.*
          |    Put Response Body in Attribute: resp.body""".stripMargin) ===
        Seq(("success", "pong")))
      val h1 = seenHeaders.poll()
      assert(h1("x-good-header") === "good")
      assert(h1("x-bad-header") === "bad") // ':' transformed to '-'
      // fail: the invalid matched name vetoes the request entirely
      assert(run("    Attributes to Send: x-.*\n" +
        "    Invalid HTTP Header Field Handling Strategy: fail") ===
        Seq(("failure", null)))
      assert(seenHeaders.isEmpty) // nothing reached the server
      // drop: only the valid name arrives
      assert(run("    Attributes to Send: x-.*\n" +
        "    Invalid HTTP Header Field Handling Strategy: drop")
        .head._1 === "success")
      val h2 = seenHeaders.poll()
      assert(h2("x-good-header") === "good")
      assert(!h2.contains("x-bad-header"))
    } finally server.stop(0)
  }

  test("PutSplunkHTTP flow: raw HEC POST with metadata query parameters, " +
       "splunk.* response attributes, invalid-token failure " +
       "(PutSplunkHTTPTests.cpp:34-112; PutSplunkHTTP.cpp getEndpoint)") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/services/collector/raw", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val auth = ex.getRequestHeaders.getFirst("Authorization")
      seen.add((auth, Option(ex.getRequestURI.getQuery).getOrElse(""), body))
      val resp =
        if (auth == "Splunk tok123")
          """{"text":"Success","code":0,"ackId":42}""".getBytes
        else """{"text":"Invalid token","code":4}""".getBytes
      ex.sendResponseHeaders(if (auth == "Splunk tok123") 200 else 403,
        resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      def yml(token: String) =
        s"""MiNiFi Config Version: 3
           |Processors:
           |- name: gen
           |  id: g
           |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
           |  Properties: {Batch Size: '2', Custom Text: 'foobar'}
           |- name: splunk
           |  id: s
           |  class: org.apache.nifi.minifi.processors.PutSplunkHTTP
           |  Properties:
           |    Scheme: http
           |    Hostname: 127.0.0.1
           |    Port: '$port'
           |    Token: $token
           |    Source: foo
           |    Source Type: bar
           |    Host: baz
           |    Index: qux
           |Connections:
           |- {id: c1, source id: g, source relationship names: [success], destination id: s}
           |""".stripMargin

      // happy path: 200 + code 0 + ackId → success with the full attr set
      val ok = FlowRunner.run(spark, FlowConfig.parse(yml("tok123")))
        .output("splunk")
        .select(col("relationship"),
          element_at(col("attributes"), "splunk.status.code"),
          element_at(col("attributes"), "splunk.response.code"),
          element_at(col("attributes"), "splunk.acknowledgement.id"),
          element_at(col("attributes"), "splunk.responded.at"))
        .collect()
      assert(ok.map(_.getString(0)).toSeq === Seq("success", "success"))
      assert(ok.map(_.getString(1)).toSet === Set("200"))
      assert(ok.map(_.getString(2)).toSet === Set("0"))
      assert(ok.map(_.getString(3)).toSet === Set("42"))
      assert(ok.forall(_.getString(4).toLong > 0))
      assert(seen.size === 2)
      seen.forEach { case (auth, query, body) =>
        assert(auth === "Splunk tok123")
        assert(body === "foobar") // raw content, not a JSON event wrapper
        assert(query.split("&").toSet ===
          Set("sourcetype=bar", "source=foo", "host=baz", "index=qux"))
      }
      seen.clear()

      // invalid token: 403, code 4, no ackId → failure, content untouched
      val bad = FlowRunner.run(spark, FlowConfig.parse(yml("wrong")))
        .output("splunk")
        .select(col("relationship"), col("content").cast("string"),
          element_at(col("attributes"), "splunk.status.code"),
          element_at(col("attributes"), "splunk.response.code"),
          element_at(col("attributes"), "splunk.acknowledgement.id"))
        .collect()
      assert(bad.map(_.getString(0)).toSeq === Seq("failure", "failure"))
      assert(bad.map(_.getString(1)).toSet === Set("foobar"))
      assert(bad.map(_.getString(2)).toSet === Set("403"))
      assert(bad.map(_.getString(3)).toSet === Set("4"))
      assert(bad.forall(_.isNullAt(4)))
    } finally server.stop(0)
  }

  test("ListFile flow emits zero-content metadata rows; " +
       "QueryDatabaseTable pulls above the initial max value") {
    val dir = tmpDir("flow-list")
    Files.write(Paths.get(dir, "x.bin"), Array.fill[Byte](10)(1))
    Files.write(Paths.get(dir, "y.bin"), Array.fill[Byte](20)(2))
    spark.sql("DROP TABLE IF EXISTS qdt_src")
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // directory survives — clear any stale location before CREATE
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        + "/qdt_src"))
    spark.sql("CREATE TABLE qdt_src (id BIGINT) USING parquet")
    spark.range(1, 11).toDF("id").write.insertInto("qdt_src")
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: list
         |  id: l
         |  class: org.apache.nifi.minifi.processors.ListFile
         |  Properties:
         |    Input Directory: $dir
         |- name: qdt
         |  id: q
         |  class: org.apache.nifi.minifi.processors.QueryDatabaseTable
         |  Properties:
         |    Table Name: qdt_src
         |    Maximum-value Columns: id
         |    initial.maxvalue.id: '4'
         |    Max Rows Per Flow File: '4'
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val listed = result.output("list")
      .select(element_at(col("attributes"), "filename"),
        element_at(col("attributes"), "file.size"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(listed === Set(("x.bin", "10"), ("y.bin", "20")))
    val qdt = result.output("qdt")
      .select(element_at(col("attributes"), "querydbtable.row.count")
        .cast("long"),
        element_at(col("attributes"), "maxvalue.id"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(qdt.map(_._1).sum === 6)          // ids 5..10
    assert(qdt.forall(_._1 <= 4))            // chunk cap
    assert(qdt.forall(_._2 === "10"))        // new max-value state
  }

  test("ConvertRecord flow resolves reader/writer controller services " +
       "(ConvertRecordTests.cpp:60)") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '1', Custom Text: '{"name":"ann","n":7,"x":"skipme"}'}
        |- name: conv
        |  id: c
        |  class: org.apache.nifi.minifi.processors.ConvertRecord
        |  Properties:
        |    Record Reader: json-reader
        |    Record Writer: csv-writer
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: c}
        |Controller Services:
        |- id: json-reader
        |  name: json-reader
        |  class: JsonTreeReader
        |  Properties:
        |    Schema Text: "name STRING, n BIGINT, missing STRING"
        |- id: csv-writer
        |  name: csv-writer
        |  class: CSVRecordSetWriter
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val rows = result.output("conv").select("relationship", "content")
      .collect().map(r => (r.getString(0), r.getString(1)))
    // extra JSON field skipped; missing schema field null -> omitted by
    // the concat_ws writer (Records.jsonToCsvLine)
    assert(rows.toSeq === Seq(("success", "ann,7")))
  }

  test("ExecuteProcess source mode: one FlowFile per run with command " +
       "attrs, no-output/no-FlowFile, stderr redirect, workdir " +
       "(ExecuteProcessTests.cpp:41-127)") {
    def run(props: String, name: String = "exec"): Seq[(String, String, String)] = {
      val yml =
        s"""MiNiFi Config Version: 3
           |Processors:
           |- name: $name
           |  id: x
           |  class: org.apache.nifi.minifi.processors.ExecuteProcess
           |  Properties:
           |$props
           |""".stripMargin
      FlowRunner.run(spark, FlowConfig.parse(yml)).output(name)
        .select(col("content").cast("string"),
          element_at(col("attributes"), "command"),
          element_at(col("attributes"), "command.arguments"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq
    }
    // single command: content, command attr, empty arguments attr
    assert(run("    Command: echo -n test") ===
      Seq(("test", "echo -n test", "")))
    // no output → no FlowFile
    assert(run("    Command: 'true'").isEmpty)
    // quote-aware argument handling end-to-end (the reference's
    // escaped-parameters case via printf)
    assert(run(
      """    Command: printf
        |    Command Arguments: '%s\n "test data 3"'""".stripMargin) ===
      Seq(("test data 3\n", "printf", "%s\\n \"test data 3\"")))
    // stderr discarded by default, folded into stdout on request
    val errCmd = "    Command: sh\n    Command Arguments: '-c \"echo err 1>&2\"'"
    assert(run(errCmd).isEmpty)
    assert(run(errCmd + "\n    Redirect Error Stream: 'true'")
      .map(_._1) === Seq("err\n"))
    // Working Directory
    assert(run("    Command: pwd\n    Working Directory: /tmp")
      .map(_._1) === Seq("/tmp\n"))
  }

  test("EL in dynamic properties: variable-registry refs and per-FlowFile " +
       "PutFile directories (ExpressionLanguageInDynamicPropertiesTests.cpp)") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-eldp-in")
    val outDir = java.nio.file.Files.createTempDirectory("graft-eldp-out")
    java.nio.file.Files.writeString(inDir.resolve("file"), "extracted_attr")
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: GetFile
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GetFile
         |  Properties: {Input Directory: '$inDir'}
         |- name: UpdateAttribute
         |  id: u
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    prop_attr: $${'nifi.my.own.property'}_added
         |- name: ExtractText
         |  id: e
         |  class: org.apache.nifi.minifi.processors.ExtractText
         |  Properties: {Attribute: extracted_attr_name}
         |- name: PutFile
         |  id: p
         |  class: org.apache.nifi.minifi.processors.PutFile
         |  Properties:
         |    Directory: $outDir/$${extracted_attr_name}
         |    Conflict Resolution Strategy: replace
         |    Create Missing Directories: 'true'
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: u}
         |- {id: c2, source id: u, source relationship names: [success], destination id: e}
         |- {id: c3, source id: e, source relationship names: [success], destination id: p}
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml),
      variables = Map("nifi.my.own.property" -> "custom_value"))
    val rows = result.output("PutFile")
      .select(col("relationship"),
        element_at(col("attributes"), "prop_attr"),
        element_at(col("attributes"), "extracted_attr_name"))
      .collect()
    assert(rows.length === 1)
    assert(rows(0).getString(0) === "success")
    // the registry value resolved at plan build and composed with text
    assert(rows(0).getString(1) === "custom_value_added")
    assert(rows(0).getString(2) === "extracted_attr")
    // the EL-evaluated per-FlowFile directory received the content
    val written = outDir.resolve("extracted_attr").resolve("file")
    assert(java.nio.file.Files.readString(written) === "extracted_attr")
  }

  test("RouteOnAttribute flow: an EL dynamic-property relationship routes " +
       "matched, a false predicate routes unmatched, and the downstream " +
       "edge consumes it (RouteOnAttributeTests.cpp:26-93)") {
    def run(condition: String, takeEdge: String): Seq[String] = {
      val yml =
        s"""MiNiFi Config Version: 3
           |Processors:
           |- name: gen
           |  id: g
           |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
           |  Properties: {Batch Size: '1', Custom Text: x, Data Format: Text, Unique FlowFiles: 'false'}
           |- name: upd
           |  id: u
           |  class: org.apache.nifi.minifi.processors.UpdateAttribute
           |  Properties:
           |    route_condition_attr: '$condition'
           |- name: route
           |  id: r
           |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
           |  Properties:
           |    route_matched: $${route_condition_attr}
           |- name: mark
           |  id: m
           |  class: org.apache.nifi.minifi.processors.UpdateAttribute
           |  Properties:
           |    route_check_attr: good
           |Connections:
           |- {id: c1, source id: g, source relationship names: [success], destination id: u}
           |- {id: c2, source id: u, source relationship names: [success], destination id: r}
           |- {id: c3, source id: r, source relationship names: [$takeEdge], destination id: m}
           |""".stripMargin
      FlowRunner.run(spark, FlowConfig.parse(yml)).output("mark")
        .select(element_at(col("attributes"), "route_check_attr"))
        .collect().map(_.getString(0)).toSeq
    }
    assert(run("true", "route_matched") === Seq("good"))
    assert(run("false", "route_matched") === Nil)   // nothing on the edge
    assert(run("false", "unmatched") === Seq("good"))
    assert(run("true", "unmatched") === Nil)
  }

  test("HashContent: empty content routes by Fail on empty; invalid " +
       "algorithm rejected at build (HashContentTest.cpp:126-173)") {
    def run(failOnEmpty: String): Seq[(String, String)] = {
      val yml =
        s"""MiNiFi Config Version: 3
           |Processors:
           |- name: gen
           |  id: g
           |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
           |  Properties: {Batch Size: '1', File Size: 0 B}
           |- name: hash
           |  id: h
           |  class: org.apache.nifi.minifi.processors.HashContent
           |  Properties:
           |    Hash Attribute: md5attr
           |    Hash Algorithm: MD5
           |    Fail on empty: '$failOnEmpty'
           |Connections:
           |- {id: c1, source id: g, source relationship names: [success], destination id: h}
           |""".stripMargin
      FlowRunner.run(spark, FlowConfig.parse(yml)).output("hash")
        .select(col("relationship"),
          element_at(col("attributes"), "md5attr"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    }
    // empty + fail=false: hashes the empty content (md5 of "" is the
    // well-known d41d8...) and routes success
    assert(run("false") ===
      Seq(("success", "d41d8cd98f00b204e9800998ecf8427e")))
    // empty + fail=true: failure
    assert(run("true").map(_._1) === Seq("failure"))
    // invalid algorithm rejected at plan build, like onSchedule
    val e = intercept[IllegalArgumentException] {
      graft.ops.Transforms.hashContent(lit("x"), "NOPE")
    }
    assert(e.getMessage.contains("NOPE"))
  }

  test("ConvertRecord with XMLRecordSetWriter renders the whole record set " +
       "as one rooted document with the controller's option surface " +
       "(XMLRecordSetWriterTests.cpp wrapper mode)") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '1', Custom Text: '[{"name":"ann","tags":["a","b"]},{"name":"bob","tags":["c"]}]'}
        |- name: conv
        |  id: c
        |  class: org.apache.nifi.minifi.processors.ConvertRecord
        |  Properties:
        |    Record Reader: json-reader
        |    Record Writer: xml-writer
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: c}
        |Controller Services:
        |- id: json-reader
        |  name: json-reader
        |  class: JsonTreeReader
        |  Properties:
        |    Schema Text: "name STRING, tags ARRAY<STRING>"
        |- id: xml-writer
        |  name: xml-writer
        |  class: XMLRecordSetWriter
        |  Properties:
        |    Name of Record Tag: record
        |    Name of Root Tag: root
        |    Wrap Elements of Arrays: Use Property as Wrapper
        |    Array Tag Name: array
        |    Omit XML Declaration: 'true'
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val rows = result.output("conv").select("relationship", "content")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.length === 1 && rows(0)._1 === "success")
    assert(rows(0)._2 ===
      "<root>" +
        "<record><name>ann</name>" +
          "<array><tags>a</tags><tags>b</tags></array></record>" +
        "<record><name>bob</name>" +
          "<array><tags>c</tags></array></record>" +
      "</root>")
  }

  test("Couchbase flow: PutCouchbaseKey then GetCouchbaseKey through the " +
       "controller-service-resolved cluster (GetCouchbaseKey.cpp:32-110)") {
    def yml(kind: String, extra: String) =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: gen
         |  id: g
         |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
         |  Properties: {Batch Size: '1', Custom Text: 'payload-1'}
         |- name: kv
         |  id: k
         |  class: org.apache.nifi.minifi.processors.$kind
         |  Properties:
         |    Couchbase Cluster Controller Service: cb-cluster
         |    Bucket Name: bkt
         |    Document Id: doc-x
         |$extra
         |Connections:
         |- {id: c1, source id: g, source relationship names: [success], destination id: k}
         |Controller Services:
         |- id: cb-cluster
         |  name: cb-cluster
         |  class: CouchbaseClusterService
         |  Properties:
         |    Connection String: couchbase://flow-spec-cluster
         |""".stripMargin
    val put = FlowRunner.run(spark,
      FlowConfig.parse(yml("PutCouchbaseKey", "")))
    val putRows = put.output("kv")
      .select("relationship", "attributes").collect()
    assert(putRows.length === 1 && putRows.head.getString(0) === "success")
    assert(putRows.head.getMap[String, String](1)("couchbase.doc.id") === "doc-x")
    put.release()
    // fetch it back through a second flow sharing the connection string
    val get = FlowRunner.run(spark,
      FlowConfig.parse(yml("GetCouchbaseKey", "")))
    val getRows = get.output("kv")
      .select("relationship", "content").collect()
    assert(getRows.length === 1 && getRows.head.getString(0) === "success")
    assert(getRows.head.getString(1) === "payload-1")
    get.release()
  }

  test("PutOPC flow: typed node write with per-row EL target " +
       "(putopc.cpp:276-308)") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '1', Custom Text: '42'}
        |- name: up
        |  id: u
        |  class: org.apache.nifi.minifi.processors.UpdateAttribute
        |  Properties: {node: 'n1'}
        |- name: opc
        |  id: o
        |  class: org.apache.nifi.minifi.processors.PutOPC
        |  Properties:
        |    OPC server endpoint: opc.tcp://flow-spec-opc
        |    Parent node ID: root
        |    Parent node namespace index: '1'
        |    Target node ID: ${node}
        |    Value type: Int64
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: u}
        |- {id: c2, source id: u, source relationship names: [success], destination id: o}
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val rows = result.output("opc").select("relationship").collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("success"))
    assert(graft.sources.Opc.InMemory("opc.tcp://flow-spec-opc")
      .read(graft.sources.Opc.NodeId(1, "n1")) === Some(42L))
    result.release()
  }

  test("Couchbase flow: composite EL Document Id evaluates per row and " +
       "the scratch attribute never leaks into the output") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '1', Custom Text: 'payload-el'}
        |- name: up
        |  id: u
        |  class: org.apache.nifi.minifi.processors.UpdateAttribute
        |  Properties: {stem: 'doc-el'}
        |- name: kv
        |  id: k
        |  class: org.apache.nifi.minifi.processors.PutCouchbaseKey
        |  Properties:
        |    Couchbase Cluster Controller Service: cb-cluster
        |    Bucket Name: bkt
        |    Document Id: ${stem}.json
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: u}
        |- {id: c2, source id: u, source relationship names: [success], destination id: k}
        |Controller Services:
        |- id: cb-cluster
        |  name: cb-cluster
        |  class: CouchbaseClusterService
        |  Properties:
        |    Connection String: couchbase://flow-spec-el
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val rows = result.output("kv").select("relationship", "attributes").collect()
    assert(rows.length === 1 && rows.head.getString(0) === "success")
    val attrs = rows.head.getMap[String, String](1)
    assert(attrs("couchbase.doc.id") === "doc-el.json")
    assert(!attrs.keys.exists(_.startsWith("__graft")))
    val store = graft.sources.Couchbase.InMemory("couchbase://flow-spec-el")
    assert(new String(store.get(graft.sources.Couchbase.Coords("bkt"),
      "doc-el.json").toOption.get.value, "UTF-8") === "payload-el")
    result.release()
  }

  test("SplitText flow routes header-overrun inputs to failure as the " +
       "ORIGINAL FlowFile, not a fabricated fragment") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties: {Batch Size: '1', Custom Text: "l1\nl2"}
        |- name: split
        |  id: s
        |  class: org.apache.nifi.minifi.processors.SplitText
        |  Properties: {Line Split Count: '1', Header Line Count: '4'}
        |Connections:
        |- {id: c1, source id: g, source relationship names: [success], destination id: s}
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val rows = result.output("split")
      .select("relationship", "content", "attributes", "uuid").collect()
    assert(rows.length === 1 && rows.head.getString(0) === "failure")
    assert(rows.head.getString(1) === "l1\nl2")
    val attrs = rows.head.getMap[String, String](2)
    assert(!attrs.contains("fragment.index") && !attrs.contains("text.line.count"))
    result.release()
  }

  test("ListFile flow applies min/max size filters from properties " +
       "(ListFile.h:64-83)") {
    val inDir = tmpDir("flow-lf-filter")
    Files.write(Paths.get(inDir, "small.txt"), "ab".getBytes)
    Files.write(Paths.get(inDir, "mid.txt"), ("x" * 100).getBytes)
    Files.write(Paths.get(inDir, "big.txt"), ("y" * 10000).getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: ls
         |  id: l
         |  class: org.apache.nifi.minifi.processors.ListFile
         |  Properties:
         |    Input Directory: $inDir
         |    Minimum File Size: 10 B
         |    Maximum File Size: 1 kB
         |Connections: []
         |""".stripMargin
    val out = FlowRunner.run(spark, FlowConfig.parse(yml)).output("ls")
    assert(out.select(element_at(col("attributes"), "filename"))
      .collect().map(_.getString(0)).toSeq === Seq("mid.txt"))
  }

  test("TailFile batch sweep emits the file's current lines") {
    val f = Files.createTempFile("flow-tail", ".log")
    Files.write(f, "one\ntwo\nthree\n".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $f
         |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    assert(result.output("tail").select("content").collect()
      .map(_.getString(0)).sorted.toSeq === Seq("one", "three", "two"))
  }

  /** One TailFile flow run as a batch sweep and as a streaming drain: each
    * mode's (content, filename, tailfile.lineOffset, uuid) rows, sorted. */
  private def tailBothModes(yml: String): (Seq[Seq[String]], Seq[Seq[String]]) = {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.select(col("content").cast("string"),
        element_at(col("attributes"), "filename"),
        element_at(col("attributes"), "tailfile.lineOffset"), col("uuid"))
        .collect().map(r => Seq.tabulate(4)(r.getString)).toSeq
        .sortBy(_.mkString("|"))
    val flow = FlowConfig.parse(yml)
    val out = tmpDir("tail-modes-sink")
    FlowStreaming.run(spark, flow, out, tmpDir("tail-modes-ckpt")).stop()
    (rows(FlowRunner.run(spark, flow).output("tail")),
      rows(spark.read.parquet(out)))
  }

  test("TailFile in Multiple-file mode: the batch sweep and the streaming " +
       "drain deliver the same FlowFiles") {
    val dir = tmpDir("tail-multi")
    Files.write(Paths.get(dir, "a.log"), "a1\na2\n".getBytes)
    Files.write(Paths.get(dir, "b.log"), "b1\n".getBytes)
    Files.write(Paths.get(dir, "skip.txt"), "not tailed\n".getBytes)
    val (batch, stream) = tailBothModes(
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    tail-mode: Multiple file
         |    tail-base-directory: $dir
         |    File to Tail: .*\\.log
         |""".stripMargin)
    assert(batch === Seq(
      Seq("a1", "a.log", "0", s"$dir/a.log@0"),
      Seq("a2", "a.log", "3", s"$dir/a.log@3"),
      Seq("b1", "b.log", "0", s"$dir/b.log@0")))
    assert(stream === batch)
  }

  test("TailFile holds back an unterminated last line in the batch sweep, " +
       "as the streaming drain does") {
    val dir = tmpDir("tail-partial")
    Files.write(Paths.get(dir, "app.log"),
      "done one\ndone two\nhalf writ".getBytes)
    val (batch, stream) = tailBothModes(
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/app.log
         |""".stripMargin)
    assert(batch.map(_.head) === Seq("done one", "done two"))
    assert(stream === batch)
  }

  test("streaming GenerateFlowFile generates the batch sweep's content " +
       "per file id") {
    val flow = FlowConfig.parse(
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties:
        |    Batch Size: 3
        |    Data Format: Text
        |    File Size: 8 B
        |    Unique FlowFiles: false
        |""".stripMargin)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
      df.select(element_at(col("attributes"), "file_id").cast("long"),
        col("content").cast("string"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    val batch = rows(FlowRunner.run(spark, flow).output("gen"))
    assert(batch.map(_._1) === Seq(0L, 1L, 2L))
    assert(batch.forall(_._2.length == 8))
    val q = FlowStreaming.assemble(spark, flow).writeStream
      .format("memory").queryName("generated_stream").start()
    try {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (spark.table("generated_stream").count() < batch.size &&
             System.nanoTime() < deadline) Thread.sleep(100)
    } finally q.stop()
    assert(rows(spark.table("generated_stream")).take(batch.size) === batch)
  }

  test("streaming flow from config: TailFile -> ExtractText -> " +
       "RouteOnAttribute -> relationship sink, offsets survive restart") {
    val dir = tmpDir("flow-stream")
    val ckpt = tmpDir("flow-ckpt")
    val out = tmpDir("flow-sink")
    Files.write(Paths.get(dir, "app.log"),
      "ERROR disk full\nINFO all fine\nERROR cpu hot\n".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/app.log
         |- name: level
         |  id: x
         |  class: org.apache.nifi.processors.standard.ExtractText
         |  Properties:
         |    level: "^([A-Z]+)"
         |- name: route
         |  id: r
         |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
         |  Properties:
         |    errors: $${level:equals('ERROR')}
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: x}
         |- {id: c2, source id: x, source relationship names: [success], destination id: r}
         |""".stripMargin
    val flow1 = FlowConfig.parse(yml)
    FlowStreaming.run(spark, flow1, out, ckpt).stop()
    assert(spark.read.parquet(s"$out/relationship=errors").count() === 2)
    assert(spark.read.parquet(s"$out/relationship=unmatched").count() === 1)
    // append one line, restart from the same checkpoint: only the new
    // line is emitted (TailFileSource offset state)
    Files.write(Paths.get(dir, "app.log"),
      "ERROR net down\n".getBytes,
      java.nio.file.StandardOpenOption.APPEND)
    FlowStreaming.run(spark, flow1, out, ckpt).stop()
    assert(spark.read.parquet(s"$out/relationship=errors").count() === 3)
    assert(spark.read.parquet(s"$out/relationship=unmatched").count() === 1)
  }

  test("streaming ListenSyslog flow parses RFC5424/RFC3164 into attributes " +
       "and routes invalid") {
    val out = tmpDir("syslog-sink")
    val ckpt = tmpDir("syslog-ckpt")
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: syslog
        |  id: s
        |  class: org.apache.nifi.minifi.processors.ListenSyslog
        |  Properties:
        |    Protocol: UDP
        |    Listening Port: '0'
        |    Parse Messages: 'true'
        |""".stripMargin
    val routed = FlowStreaming.assemble(spark, FlowConfig.parse(yml))
    val q = graft.streaming.FlowRuntime.relationshipSink(routed, out)
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      val port = graft.sources.NetListenerSource.boundPort("s")
      val sock = new java.net.DatagramSocket()
      Seq(
        "<34>1 2026-08-12T22:14:15.003Z host1 app 77 ID47 - boom",
        "<13>Aug 12 22:14:15 host2 legacy style msg",
        "not syslog at all").foreach { m =>
        val b = m.getBytes("UTF-8")
        sock.send(new java.net.DatagramPacket(b, b.length,
          java.net.InetAddress.getLoopbackAddress, port))
      }
      sock.close()
      var ok = false
      var i = 0
      while (i < 40 && !ok) {
        q.processAllAvailable()
        ok = new java.io.File(s"$out/relationship=success").exists() &&
          new java.io.File(s"$out/relationship=invalid").exists() &&
          spark.read.parquet(s"$out/relationship=success").count() == 2
        Thread.sleep(250); i += 1
      }
      assert(ok, "syslog messages not routed in time")
      val attrs = spark.read.parquet(s"$out/relationship=success")
        .select(element_at(col("attributes"), "syslog.format").as("f"),
          element_at(col("attributes"), "syslog.hostname").as("h"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(attrs === Set(("rfc5424", "host1"), ("rfc3164", "host2")))
    } finally q.stop()
  }

  test("streaming DefragmentText flow reassembles multi-line messages " +
       "from a config-wired stateful stage") {
    val dir = tmpDir("defrag-in")
    val ckpt = tmpDir("defrag-ckpt")
    val out = tmpDir("defrag-sink")
    Files.write(Paths.get(dir, "multi.log"),
      ("START one\n  detail a\n  detail b\n" +
        "START two\n  detail c\n" +
        "START three\n").getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/multi.log
         |- name: defrag
         |  id: d
         |  class: org.apache.nifi.minifi.processors.DefragmentText
         |  Properties:
         |    Pattern: "^START"
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: d}
         |""".stripMargin
    FlowStreaming.run(spark, FlowConfig.parse(yml), out, ckpt).stop()
    val msgs = spark.read.parquet(s"$out/relationship=success")
      .select("content").collect().map(_.getString(0)).toSet
    // the open buffer ("START three") stays in state awaiting the next
    // boundary; the two closed messages flush. Fragments keep their
    // delimiter (TailFile.cpp:134) and concatenate raw, so the reassembled
    // messages carry their trailing newlines like the reference's output.
    assert(msgs === Set(
      "START one\n  detail a\n  detail b\n",
      "START two\n  detail c\n"))
  }

  test("streaming DetectDuplicate flow: tailed lines dedup on content " +
       "hash, duplicates route with seen counts") {
    val dir = tmpDir("dedup-in")
    val ckpt = tmpDir("dedup-ckpt")
    val out = tmpDir("dedup-sink")
    Files.write(Paths.get(dir, "lines.log"),
      "alpha\nbeta\nalpha\ngamma\nbeta\nalpha\n".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/lines.log
         |- name: dedup
         |  id: d
         |  class: org.apache.nifi.minifi.processors.DetectDuplicate
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: d}
         |""".stripMargin
    FlowStreaming.run(spark, FlowConfig.parse(yml), out, ckpt).stop()
    val firsts = spark.read.parquet(s"$out/relationship=non-duplicate")
      .select("content").collect().map(_.getString(0)).toSet
    assert(firsts === Set("alpha", "beta", "gamma"))
    val dups = spark.read.parquet(s"$out/relationship=duplicate")
      .select(col("content"),
        element_at(col("attributes"), "detectduplicate.seen"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dups === Set(("alpha", "2"), ("alpha", "3"), ("beta", "2")))
  }

  test("streaming DefragmentText flow stamps JOIN provenance whose parents " +
       "reconstruct the tailed lines (VERDICT r6 ask: streaming lineage " +
       "parity; ProcessSession.cpp:973 records events on EVERY commit)") {
    val dir = tmpDir("defrag-prov-in")
    val ckpt = tmpDir("defrag-prov-ckpt")
    val out = tmpDir("defrag-prov-sink")
    Files.write(Paths.get(dir, "multi.log"),
      ("START one\n  detail a\n  detail b\n" +
        "START two\n  detail c\n" +
        "START three\n").getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/multi.log
         |- name: defrag
         |  id: d
         |  class: org.apache.nifi.minifi.processors.DefragmentText
         |  Properties:
         |    Pattern: "^START"
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: d}
         |""".stripMargin
    FlowStreaming.run(spark, FlowConfig.parse(yml), out, ckpt).stop()
    val rows = spark.read.parquet(s"$out/relationship=success")
      .select(col("content"),
        element_at(col("attributes"), "provenance.event").as("ev"),
        element_at(col("attributes"), "provenance.parents").as("par"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSeq.sortBy(_._1)
    // tail uuids are deterministic `<path>@<byteOffset>` — the JOIN parents
    // of each reassembled message are exactly its member lines
    val p = s"$dir/multi.log"
    assert(rows === Seq(
      ("START one\n  detail a\n  detail b\n", "JOIN",
        s"$p@0,$p@10,$p@21"),
      ("START two\n  detail c\n", "JOIN",
        s"$p@32,$p@42")))
    // the provenance-event table derives from the same output
    val evs = graft.flow.Lineage.events(
      spark.read.parquet(s"$out/relationship=success"))
      .collect().map(r => (r.getString(0), r.getSeq[String](2).size)).toSeq
    assert(evs.sortBy(_._2) === Seq(("JOIN", 2), ("JOIN", 3)))
  }

  test("streaming flow fan-out stamps CLONE provenance per connection, " +
       "matching the batch runner's edge rule") {
    val dir = tmpDir("clone-in")
    val ckpt = tmpDir("clone-ckpt")
    val out = tmpDir("clone-sink")
    Files.write(Paths.get(dir, "app.log"), "hello\n".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/app.log
         |- name: a
         |  id: a
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    branch: left
         |- name: b
         |  id: b
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    branch: right
         |- name: log
         |  id: l
         |  class: org.apache.nifi.minifi.processors.LogAttribute
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: a}
         |- {id: c2, source id: t, source relationship names: [success], destination id: b}
         |- {id: c3, source id: a, source relationship names: [success], destination id: l}
         |- {id: c4, source id: b, source relationship names: [success], destination id: l}
         |""".stripMargin
    FlowStreaming.run(spark, FlowConfig.parse(yml), out, ckpt).stop()
    val p = s"$dir/app.log"
    val rows = spark.read.parquet(out)
      .select(col("uuid"),
        element_at(col("attributes"), "provenance.event").as("ev"),
        element_at(col("attributes"), "provenance.parents").as("par"),
        element_at(col("attributes"), "branch").as("branch"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq.sortBy(_._4)
    // each clone: deterministic child uuid `<parent>@<connection>`, CLONE
    // event, parent = the original tail row
    assert(rows === Seq(
      (s"$p@0@c1", "CLONE", s"$p@0", "left"),
      (s"$p@0@c2", "CLONE", s"$p@0", "right")))
  }

  test("ExecuteSQL battery: rowset JSON arrays, EL statements, content " +
       "statements, sql.args binding, Max Rows chunking, failure routing " +
       "(ExecuteSQLTests.cpp:27-232)") {
    import graft.core.FlowFrame
    import scala.jdk.CollectionConverters._
    spark.sql("CREATE OR REPLACE TEMP VIEW test_table AS " +
      "SELECT * FROM VALUES (11, 'one'), (22, 'two') AS t(int_col, text_col)")
    def proc(props: (String, String)*) = graft.flow.ProcessorDef("sq", "sql",
      "org.apache.nifi.minifi.processors.ExecuteSQL", "TIMER_DRIVEN",
      "1 sec", Set.empty, props.toMap)
    def ff(uuid: String, content: String, attrs: Map[String, String]) = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("uuid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("attributes",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))
      spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(uuid, content, attrs)).asJava, schema)
        .withColumn("entryDate", current_timestamp())
        .withColumn("relationship", lit(null: String))
    }
    def attrsOf(r: org.apache.spark.sql.Row) =
      r.getAs[Map[String, String]]("attributes")

    // ExecuteSQL1: no incoming FlowFile — one FlowFile, whole rowset
    val r1 = graft.flow.Processors.apply(spark,
      proc("SQL select query" ->
        "SELECT * FROM test_table ORDER BY int_col ASC"), None).collect()
    assert(r1.length === 1)
    assert(r1(0).getAs[String]("content") ===
      """[{"int_col":11,"text_col":"one"},{"int_col":22,"text_col":"two"}]""")
    assert(attrsOf(r1(0))("executesql.row.count") === "2")

    // ExecuteSQL2: EL in the statement resolves from the input's attributes
    val r2 = graft.flow.Processors.apply(spark,
      proc("SQL select query" ->
        "SELECT * FROM test_table WHERE int_col = ${int_col_value}"),
      Some(ff("u2", "", Map("int_col_value" -> "11")))).collect()
    assert(r2.length === 1)
    assert(r2(0).getAs[String]("content") ===
      """[{"int_col":11,"text_col":"one"}]""")
    assert(attrsOf(r2(0))("executesql.row.count") === "1")

    // ExecuteSQL3: statement from the input CONTENT when no property
    val r3 = graft.flow.Processors.apply(spark, proc(),
      Some(ff("u3", "SELECT * FROM test_table ORDER BY int_col ASC", Map())))
      .collect()
    assert(r3.length === 1)
    assert(attrsOf(r3(0))("executesql.row.count") === "2")

    // ExecuteSQL4: positional ? bound from sql.args.N.value in N order
    spark.sql("CREATE OR REPLACE TEMP VIEW test_table4 AS SELECT * FROM " +
      "VALUES (11, 'apple'), (11, 'banana'), (22, 'banana') " +
      "AS t(int_col, text_col)")
    val r4 = graft.flow.Processors.apply(spark, proc(),
      Some(ff("u4",
        "SELECT * FROM test_table4 WHERE int_col = ? AND text_col = ?",
        Map("sql.args.1.value" -> "11", "sql.args.2.value" -> "banana"))))
      .collect()
    assert(r4.length === 1)
    assert(r4(0).getAs[String]("content") ===
      """[{"int_col":11,"text_col":"banana"}]""")
    assert(attrsOf(r4(0))("executesql.row.count") === "1")

    // ExecuteSQL5: Max Rows Per Flow File chunks the ordered rowset with
    // fragment attributes
    spark.sql("CREATE OR REPLACE TEMP VIEW test_table5 AS SELECT * FROM " +
      "VALUES (101, 'apple'), (102, 'banana'), (103, 'pear'), " +
      "(104, 'strawberry'), (105, 'pineapple') AS t(int_col, text_col)")
    val r5 = graft.flow.Processors.apply(spark,
      proc("SQL select query" ->
        "SELECT text_col FROM test_table5 ORDER BY int_col ASC",
        "Max Rows Per Flow File" -> "2"), None).collect()
      .sortBy(r => attrsOf(r)("fragment.index").toInt)
    assert(r5.length === 3)
    assert(r5.map(_.getAs[String]("content")).toSeq === Seq(
      """[{"text_col":"apple"},{"text_col":"banana"}]""",
      """[{"text_col":"pear"},{"text_col":"strawberry"}]""",
      """[{"text_col":"pineapple"}]"""))
    assert(r5.map(r => attrsOf(r)("executesql.row.count")).toSeq ===
      Seq("2", "2", "1"))
    assert(r5.map(r => attrsOf(r)("fragment.count")).toSet === Set("3"))
    assert(r5.map(r => attrsOf(r)("fragment.identifier")).toSet.size === 1)

    // ExecuteSQL6/7: malformed statement / missing table / unbound ? —
    // the INPUT routes to failure with content untouched
    for (bad <- Seq(
      ff("u6", "not a valid sql statement", Map()),
      ff("u6b", "SELECT * FROM no_such_table", Map()),
      ff("u7", "ignored content", Map()))) {
      val isArgCase = bad.collect()(0).getString(1) == "ignored content"
      val p = if (isArgCase)
        proc("SQL select query" -> "SELECT * FROM test_table WHERE int_col = ?")
      else proc()
      val out = graft.flow.Processors.apply(spark, p, Some(bad)).collect()
      assert(out.length === 1)
      assert(out(0).getAs[String]("relationship") === "failure")
    }
  }

  test("PostElasticsearch battery: EL action, credentials service, " +
       "per-item attrs, item-error routing, auth failure " +
       "(PostElasticsearchTests.cpp:28-120)") {
    val bodies = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/_bulk", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      bodies.add(body)
      val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .getOrElse("")
      val okAuth = auth == "ApiKey goodkey" ||
        auth == "Basic " + java.util.Base64.getEncoder
          .encodeToString("user:pass".getBytes("UTF-8"))
      val resp =
        if (!okAuth) """{"error":"unauthorized"}""".getBytes
        else if (body.contains("\"update\"") && body.contains("fail-me"))
          ("""{"took":1,"errors":true,"items":[{"update":{"_index":""" +
            """"test_index","_id":"doc1","status":409,"error":{"type":""" +
            """"version_conflict","reason":"stale"}}}]}""").getBytes
        else if (body.contains("\"update\""))
          ("""{"took":1,"errors":false,"items":[{"update":{"_index":""" +
            """"test_index","_id":"doc1","status":200}}]}""").getBytes
        else
          ("""{"took":1,"errors":false,"items":[{"index":{"_index":""" +
            """"test_index","_id":"auto1","status":201}}]}""").getBytes
      ex.sendResponseHeaders(if (okAuth) 200 else 401, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      def run(creds: Map[String, String], action: String,
              content: String): org.apache.spark.sql.Row = {
        import scala.jdk.CollectionConverters._
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("uuid",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("content",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("attributes",
            org.apache.spark.sql.types.MapType(
              org.apache.spark.sql.types.StringType,
              org.apache.spark.sql.types.StringType))))
        val in = spark.createDataFrame(Seq(org.apache.spark.sql.Row(
          "u1", content, Map("elastic_action" -> action))).asJava, schema)
          .withColumn("entryDate", current_timestamp())
          .withColumn("relationship", lit(null: String))
        graft.flow.Processors.apply(spark,
          graft.flow.ProcessorDef("es", "post",
            "org.apache.nifi.minifi.processors.PostElasticsearch",
            "TIMER_DRIVEN", "1 sec", Set.empty,
            Map("Hosts" -> s"http://127.0.0.1:$port",
              "Action" -> "${elastic_action}",
              "Index" -> "test_index",
              "Identifier" -> "doc1",
              "Elasticsearch Credentials Provider Service" -> "creds")),
          Some(in),
          services = Seq(graft.flow.ServiceDef("creds", "creds",
            "ElasticsearchCredentialsControllerService", creds)))
          .select(col("relationship"), col("attributes")).collect().head
      }
      val basic = Map("Username" -> "user", "Password" -> "pass")
      val apiKey = Map("API Key" -> "goodkey")

      // index with valid basic auth → success + per-item attrs
      val ok = run(basic, "index", """{"field1":"value1"}""")
      assert(ok.getString(0) === "success")
      val okAttrs = ok.getMap[String, String](1).toMap
      assert(okAttrs("elasticsearch.index._id") === "auto1")
      assert(okAttrs("elasticsearch.index._index") === "test_index")

      // upsert with ApiKey → update action attrs; doc_as_upsert payload
      val up = run(apiKey, "upsert", """{"field1":"value1"}""")
      assert(up.getString(0) === "success")
      val upAttrs = up.getMap[String, String](1).toMap
      assert(upAttrs("elasticsearch.update._id") === "doc1")
      assert(upAttrs("elasticsearch.update._index") === "test_index")
      var sawUpsert = false
      bodies.forEach(b =>
        if (b.contains("\"doc_as_upsert\":true")) sawUpsert = true)
      assert(sawUpsert)

      // item-level error → ERROR relationship with error attrs
      val err = run(apiKey, "upsert", """{"field1":"fail-me"}""")
      assert(err.getString(0) === "error")
      val errAttrs = err.getMap[String, String](1).toMap
      assert(errAttrs("elasticsearch.update.error.type") === "version_conflict")
      assert(errAttrs("elasticsearch.update.error.reason") === "stale")
      assert(errAttrs("elasticsearch.update._id") === "doc1")

      // invalid credentials → transport failure
      val bad = run(Map("API Key" -> "wrong"), "create",
        """{"field1":"value1"}""")
      assert(bad.getString(0) === "failure")
    } finally server.stop(0)
  }

  test("QuerySplunkIndexingStatus battery: acknowledged/undetermined/" +
       "unacknowledged/failure routing incl. duplicate ids and the max-age " +
       "rule (QuerySplunkIndexingStatusTests.cpp:35-130)") {
    import scala.jdk.CollectionConverters._
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/services/collector/ack", ex => {
      ex.getRequestBody.readAllBytes()
      val resp = """{"acks":{"1":true,"100":false,"300":false}}""".getBytes
      ex.sendResponseHeaders(200, resp.length)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val now = System.currentTimeMillis()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("uuid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("attributes",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))
      def row(u: String, attrs: Map[String, String]) =
        org.apache.spark.sql.Row(u, "foobar", attrs)
      val in = spark.createDataFrame(Seq(
        row("a", Map("splunk.acknowledgement.id" -> "1",
          "splunk.responded.at" -> now.toString)),          // indexed
        row("b", Map("splunk.acknowledgement.id" -> "100",
          "splunk.responded.at" -> now.toString)),          // young, not indexed
        row("c", Map("splunk.acknowledgement.id" -> "300",
          "splunk.responded.at" -> (now - 2 * 3600 * 1000L).toString)), // old
        row("d1", Map("splunk.acknowledgement.id" -> "200")), // duplicate id
        row("d2", Map("splunk.acknowledgement.id" -> "200")),
        row("e", Map.empty[String, String])                  // no ack id
      ).asJava, schema)
        .withColumn("entryDate", current_timestamp())
        .withColumn("relationship", lit(null: String))
      val out = graft.flow.Processors.apply(spark,
        graft.flow.ProcessorDef("q", "ack",
          "org.apache.nifi.minifi.processors.QuerySplunkIndexingStatus",
          "TIMER_DRIVEN", "1 sec", Set.empty,
          Map("Scheme" -> "http", "Hostname" -> "127.0.0.1",
            "Port" -> port.toString, "Token" -> "tok",
            "Splunk Request Channel" -> "chan")),
        Some(in)).select("uuid", "relationship").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(out === Map(
        "a" -> "acknowledged",
        "b" -> "undetermined",
        "c" -> "unacknowledged",
        "d1" -> "failure", "d2" -> "failure",
        "e" -> "failure"))
    } finally server.stop(0)
  }

  test("PutSQL battery: statement from property or content with sql.args " +
       "binds, malformed statement routes the input to failure " +
       "(PutSQLTests.cpp:36-136)") {
    import scala.jdk.CollectionConverters._
    spark.sql("DROP TABLE IF EXISTS putsql_flow_t")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
        + "/putsql_flow_t"))
    spark.sql("CREATE TABLE putsql_flow_t (int_col INT, text_col STRING) USING parquet")
    def proc(props: (String, String)*) = graft.flow.ProcessorDef("ps", "put",
      "org.apache.nifi.minifi.processors.PutSQL", "TIMER_DRIVEN",
      "1 sec", Set.empty, props.toMap)
    def ff(uuid: String, content: String, attrs: Map[String, String]) = {
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("uuid",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("attributes",
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))))
      spark.createDataFrame(
        Seq(org.apache.spark.sql.Row(uuid, content, attrs)).asJava, schema)
        .withColumn("entryDate", current_timestamp())
        .withColumn("relationship", lit(null: String))
    }

    // statement from the property, ? bound from sql.args.1.value
    val r1 = graft.flow.Processors.apply(spark,
      proc("SQL Statement" ->
        "INSERT INTO putsql_flow_t (int_col, text_col) VALUES (?, 'asdf')"),
      Some(ff("u1", "", Map("sql.args.1.value" -> "42")))).collect()
    assert(r1.map(_.getAs[String]("relationship")).toSeq === Seq("success"))
    assert(spark.table("putsql_flow_t").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet === Set((42, "asdf")))

    // statement from the CONTENT with two binds
    val r2 = graft.flow.Processors.apply(spark, proc(),
      Some(ff("u2", "INSERT INTO putsql_flow_t VALUES(?, ?)",
        Map("sql.args.1.value" -> "4242", "sql.args.2.value" -> "fdsa"))))
      .collect()
    assert(r2.map(_.getAs[String]("relationship")).toSeq === Seq("success"))
    assert(spark.table("putsql_flow_t").count() === 2)

    // missing parameter → the input routes to failure, nothing inserted
    val r3 = graft.flow.Processors.apply(spark,
      proc("SQL Statement" ->
        "INSERT INTO putsql_flow_t (int_col, text_col) VALUES (?, 'asdf')"),
      Some(ff("u3", "", Map()))).collect()
    assert(r3.map(_.getAs[String]("relationship")).toSeq === Seq("failure"))
    assert(spark.table("putsql_flow_t").count() === 2)
  }

  test("QueryDatabaseTable rowset output: Columns-to-Return projection in " +
       "max-column order, fragment attrs, no-new-rows emits nothing " +
       "(QueryDatabaseTableTests.cpp:54-168)") {
    spark.sql("CREATE OR REPLACE TEMP VIEW qdt_rows AS SELECT * FROM " +
      "VALUES (101, 'one'), (102, 'two'), (103, 'three'), (104, 'four'), " +
      "(105, 'five') AS t(int_col, text_col)")
    def proc(props: (String, String)*) = graft.flow.ProcessorDef("q", "qdt",
      "org.apache.nifi.minifi.processors.QueryDatabaseTable", "TIMER_DRIVEN",
      "1 sec", Set.empty, props.toMap)
    val out = graft.flow.Processors.apply(spark, proc(
      "Table Name" -> "qdt_rows",
      "Maximum-value Columns" -> "int_col",
      "Columns to Return" -> "text_col",
      "Max Rows Per Flow File" -> "3",
      "initial.maxvalue.int_col" -> "0"), None).collect()
      .sortBy(r => r.getAs[Map[String, String]]("attributes")("fragment.index").toInt)
    assert(out.length === 2)
    def attrs(i: Int) = out(i).getAs[Map[String, String]]("attributes")
    assert(out(0).getAs[String]("content") ===
      """[{"text_col":"one"},{"text_col":"two"},{"text_col":"three"}]""")
    assert(out(1).getAs[String]("content") ===
      """[{"text_col":"four"},{"text_col":"five"}]""")
    assert(attrs(0)("tablename") === "qdt_rows")
    assert(attrs(0)("querydbtable.row.count") === "3")
    assert(attrs(1)("querydbtable.row.count") === "2")
    assert(Seq(0, 1).map(attrs(_)("fragment.count")).toSet === Set("2"))
    assert(Seq(0, 1).map(attrs(_)("fragment.index")) === Seq("0", "1"))
    assert(attrs(0)("fragment.identifier") === attrs(1)("fragment.identifier"))
    assert(Seq(0, 1).map(attrs(_)("maxvalue.int_col")).toSet === Set("105"))

    // requerying above the new max emits NOTHING (no [] rowset)
    val none = graft.flow.Processors.apply(spark, proc(
      "Table Name" -> "qdt_rows",
      "Maximum-value Columns" -> "int_col",
      "initial.maxvalue.int_col" -> "105"), None).collect()
    assert(none.isEmpty)
  }

  test("streaming terminal PutFile picks the sink directory from its config") {
    val dir = tmpDir("tsink-in")
    val ckpt = tmpDir("tsink-ckpt")
    val out = tmpDir("tsink-out")
    Files.write(Paths.get(dir, "app.log"), "ERROR a\nINFO b\n".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/app.log
         |- name: route
         |  id: r
         |  class: org.apache.nifi.minifi.processors.RouteOnAttribute
         |  Properties:
         |    errors: $${literal(1):equals(1)}
         |- name: put
         |  id: p
         |  class: org.apache.nifi.minifi.processors.PutFile
         |  Properties:
         |    Directory: $out
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: r}
         |- {id: c2, source id: r, source relationship names: [errors], destination id: p}
         |""".stripMargin
    FlowStreaming.runWithTerminalSink(spark, FlowConfig.parse(yml),
      ckpt, tmpDir("tsink-fallback")).stop()
    assert(spark.read.parquet(s"$out/relationship=errors").count() === 2)
  }

  test("one walk, two modes: a 'drop empty' edge drops the same blanked " +
       "lines in the batch sweep and the streaming assembly") {
    val dir = tmpDir("parity-in")
    Files.write(Paths.get(dir, "app.log"),
      "keep one\nDEBUG noise\nkeep two\nDEBUG more\nkeep three\n".getBytes)
    val yml =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: tail
         |  id: t
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/app.log
         |- name: blank
         |  id: b
         |  class: org.apache.nifi.minifi.processors.ReplaceText
         |  Properties:
         |    Evaluation Mode: Entire text
         |    Search Value: "^DEBUG.*$$"
         |    Replacement Value: ''
         |- name: sink
         |  id: s
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    marker: seen
         |Connections:
         |- {id: c1, source id: t, source relationship names: [success], destination id: b}
         |- {id: c2, source id: b, source relationship names: [success], destination id: s, drop empty: true}
         |""".stripMargin
    val expected = Seq("keep one", "keep three", "keep two")
    def contents(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("content").cast("string")).collect().map(_.getString(0))
        .toSeq.sorted
    assert(contents(FlowRunner.run(spark, FlowConfig.parse(yml))
      .output("sink")) === expected)
    val out = tmpDir("parity-sink")
    FlowStreaming.run(spark, FlowConfig.parse(yml), out,
      tmpDir("parity-ckpt")).stop()
    assert(contents(spark.read.parquet(s"$out/relationship=success")) ===
      expected)
  }

  test("a cycle the one-source check misses: streaming rejects it, the " +
       "batch sweep drops the back edge") {
    val dir = tmpDir("cycle-in")
    Files.write(Paths.get(dir, "app.log"), "x\ny\n".getBytes)
    def proc(name: String) =
      s"""- name: $name
         |  id: $name
         |  class: org.apache.nifi.minifi.processors.UpdateAttribute
         |  Properties:
         |    visited: $name
         |""".stripMargin
    def edge(id: String, from: String, to: String) =
      s"- {id: $id, source id: $from, source relationship names: " +
        s"[success], destination id: $to}\n"
    def flow(edges: String) =
      s"""MiNiFi Config Version: 3
         |Processors:
         |- name: src
         |  id: src
         |  class: org.apache.nifi.minifi.processors.TailFile
         |  Properties:
         |    File to Tail: $dir/app.log
         |""".stripMargin + proc("a") + proc("b") + proc("sink") +
        "Connections:\n" + edges
    val yml = flow(edge("c1", "src", "a") + edge("c2", "a", "b") +
      edge("c3", "b", "a") + edge("c4", "b", "sink"))
    // the second shape: a is fed only from inside the cycle, so breaking
    // it leaves a with no input at all
    val detached = flow(edge("c1", "src", "sink") + edge("c2", "a", "b") +
      edge("c3", "b", "a") + edge("c4", "b", "sink"))
    Seq(yml, detached).foreach { y =>
      val err = intercept[IllegalArgumentException](
        FlowStreaming.assemble(spark, FlowConfig.parse(y)))
      assert(err.getMessage.contains("unresolvable flow (cycle?)"),
        err.getMessage)
    }
    val batch = FlowRunner.run(spark, FlowConfig.parse(yml))
    assert(batch.droppedEdges.map(_.id) === Seq("c3"))
    assert(batch.output("sink").count() === 2)
  }

  test("RouteText flow reassembles per-relationship content with grouping") {
    val yml =
      """MiNiFi Config Version: 3
        |Processors:
        |- name: gen
        |  id: g
        |  class: org.apache.nifi.minifi.processors.GenerateFlowFile
        |  Properties:
        |    Batch Size: '1'
        |    Custom Text: "apple one\napple two\nbanana one\ncherry three"
        |- name: rt
        |  id: r
        |  class: org.apache.nifi.processors.standard.RouteText
        |  Properties:
        |    Routing Strategy: Dynamic Routing
        |    Matching Strategy: Starts With
        |    Grouping Regular Expression: "^([a-z]+) .*"
        |    apples: apple
        |    bananas: banana
        |Connections:
        |- id: c1
        |  source id: g
        |  source relationship names: [success]
        |  destination id: r
        |""".stripMargin
    val result = FlowRunner.run(spark, FlowConfig.parse(yml))
    val rows = result.output("rt")
      .select(col("relationship"),
        element_at(col("attributes"), "RouteText.Group").as("grp"),
        col("content"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet
    // raw segments keep their line endings and concatenate without a
    // demarcator (RouteText.cpp:247)
    assert(rows === Set(
      ("apples", "apple", "apple one\napple two\n"),
      ("bananas", "banana", "banana one\n"),
      ("unmatched", "cherry", "cherry three")))
  }
}
