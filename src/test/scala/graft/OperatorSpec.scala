package graft

import org.apache.spark.sql.functions._
import graft.core.FlowFrame
import graft.ops._

/** Per-operator behavior tests in the SingleProcessorTestController style:
  * feed (content, attributes) rows, assert per-relationship outputs. */
class OperatorSpec extends SparkSpec {

  test("RouteOnAttribute: clone to every matching rule, else unmatched " +
       "(RouteOnAttribute.cpp onTrigger clone+transfer per match)") {
    val df = flowFrame(Seq(
      ("", Map("kind" -> "error", "size" -> "2048")),
      ("", Map("kind" -> "error", "size" -> "10")),
      ("", Map("kind" -> "ok", "size" -> "9999"))))
    val routed = Routing.routeOnAttribute(df, Seq(
      "big_error" -> "${kind:equals('error'):and(${size:gt(1024)})}",
      "any_error" -> "${kind:equals('error')}"))
    val rels = routed.select("relationship").collect().map(_.getString(0)).toSeq
    // row 1 matches BOTH rules -> lands on both edges; row 2 only any_error
    assert(rels === Seq("big_error", "any_error", "any_error", "unmatched"))
    val split = FlowFrame.routed(routed, Seq("big_error", "any_error", "unmatched"))
    assert(split("big_error").count() === 1)
    assert(split("any_error").count() === 2)
    assert(split("unmatched").count() === 1)
  }

  test("ApplyTemplate renders bustache semantics: padded tags, comments, " +
       "sections over the flat attribute map " +
       "(extensions/bustache/tests/ApplyTemplateTests.cpp:43-47,56)") {
    // the battery's exact template/value/output triple — note the PADDED
    // {{ ExampleAttribute }} tag
    val df = flowFrame(Seq(("", Map("ExampleAttribute" -> "ExampleValue"))))
    val out = df.select(Content.applyTemplate(
      "TemplateBegins\n{{ ExampleAttribute }}\nTemplateEnds").as("r"))
      .collect().head.getString(0)
    assert(out === "TemplateBegins\nExampleValue\nTemplateEnds")

    // missing attribute interpolates empty; comments drop; triple/& raw
    val df2 = flowFrame(Seq(("", Map("a" -> "<b>&x</b>"))))
    val out2 = df2.select(Content.applyTemplate(
      "[{{missing}}]{{! note }}{{{a}}}={{&a}}={{a}}").as("r"))
      .collect().head.getString(0)
    assert(out2 === "[]<b>&x</b>=<b>&x</b>=<b>&x</b>")

    // sections: present key renders #, absent renders ^; nesting works
    val df3 = flowFrame(Seq(
      ("", Map("flag" -> "on", "name" -> "n1")),
      ("", Map("name" -> "n2"))))
    val out3 = df3.select(Content.applyTemplate(
      "{{#flag}}Y:{{name}}{{/flag}}{{^flag}}N:{{name}}{{/flag}}").as("r"))
      .collect().map(_.getString(0)).toSeq
    assert(out3 === Seq("Y:n1", "N:n2"))

    // unbalanced sections fail at compile time
    intercept[IllegalArgumentException] {
      Content.applyTemplate("{{#a}}x")
    }
    intercept[IllegalArgumentException] {
      Content.applyTemplate("{{#a}}x{{/b}}")
    }
  }

  test("UpdateAttribute overwrites and adds (UpdateAttribute.cpp:37)") {
    val df = flowFrame(Seq(("", Map("color" -> "red", "keep" -> "yes"))))
    val up = Transforms.updateAttribute(df, Seq(
      "color" -> "blue-${color}", "added" -> "${keep:toUpper()}"))
    val row = up.select(
      FlowFrame.attr("color"), FlowFrame.attr("added"), FlowFrame.attr("keep"))
      .collect().head
    assert(row.getString(0) === "blue-red")
    assert(row.getString(1) === "YES")
    assert(row.getString(2) === "yes")
  }

  test("RetryFlowFile increments and routes at the limit") {
    val df = flowFrame(Seq(
      ("", Map("flowfile.retries" -> "1")),
      ("", Map("flowfile.retries" -> "3")),
      ("", Map[String, String]())))
    val out = Routing.retryFlowFile(df, "flowfile.retries", 3)
    val rows = out.select(FlowFrame.attr("flowfile.retries").cast("double")
      .cast("long"), col("relationship")).collect()
    // the count increments ONLY on the retry edge; retries_exceeded keeps
    // the incoming value (RetryFlowFile.cpp:73-82 setAttribute placement)
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq(
      (2L, "retry"), (3L, "retries_exceeded"), (1L, "retry")))
  }

  test("ExecuteProcess command tokenizer matches std::quoted argv assembly " +
       "(ExecuteProcess.cpp:69-80; ExecuteProcessTests.cpp:70-84)") {
    import graft.ops.Exec.tokenizeCommand
    assert(tokenizeCommand("echo -n test") === Seq("echo", "-n", "test"))
    // the reference's escaped-parameters vector: quoted groups keep
    // spaces; escaped quotes inside a quoted group stay literal
    assert(tokenizeCommand(
      """0 test_data test_data2 "test data 3" "\"test data 4\"""") ===
      Seq("0", "test_data", "test_data2", "test data 3", "\"test data 4\""))
    // unquoted words keep backslashes verbatim; empty input → no args
    assert(tokenizeCommand("""a\b c""") === Seq("a\\b", "c"))
    assert(tokenizeCommand("   ") === Nil)
    // unterminated quote reads to end of input (std::quoted behavior)
    assert(tokenizeCommand("\"open end") === Seq("open end"))
    // inside quotes std::quoted drops the escape char before ANY
    // following character: "a\x" extracts as ax
    assert(tokenizeCommand("\"a\\x\"") === Seq("ax"))
    assert(tokenizeCommand("\"mixed \\q\\\" end\"") === Seq("mixed q\" end"))
  }

  test("SqlColumnIdentifier: escaped forms, original representation, " +
       "escape-agnostic equality and hashing (SQLColumnIdentifierTests.cpp)") {
    import graft.ops.SqlOps.SqlColumnIdentifier
    assert(SqlColumnIdentifier("Abc").value === "Abc")
    assert(SqlColumnIdentifier("\"Abc\"").value === "Abc") // standard
    assert(SqlColumnIdentifier("[Abc]").value === "Abc")   // MS SQL
    assert(SqlColumnIdentifier("`Abc`").value === "Abc")   // MySQL
    assert(SqlColumnIdentifier("\"").value === "\"")       // single char kept
    assert(SqlColumnIdentifier("Abc").str === "Abc")
    assert(SqlColumnIdentifier("\"Abc\"").str === "\"Abc\"")
    assert(SqlColumnIdentifier("[Abc]").str === "[Abc]")
    assert(SqlColumnIdentifier("`Abc`").str === "`Abc`")
    assert(SqlColumnIdentifier("Abc") === SqlColumnIdentifier("\"Abc\""))
    assert(SqlColumnIdentifier("\"Abc\"") === SqlColumnIdentifier("[Abc]"))
    assert(SqlColumnIdentifier("[Abc]") === SqlColumnIdentifier("`Abc`"))
    val ids = Set(SqlColumnIdentifier("[Abc]"))
    assert(ids(SqlColumnIdentifier("\"Abc\"")))
    assert(ids(SqlColumnIdentifier("`Abc`")))
    assert(ids(SqlColumnIdentifier("Abc")))
    assert(!ids(SqlColumnIdentifier("abc"))) // case-sensitive
  }

  test("LogAttribute full message: filter lists, dash prefix, payload " +
       "hex + wrap (LogAttributeTests.cpp:56-128)") {
    val attrs = Map("eng" -> "apple", "ger" -> "Apfel", "fra" -> "pomme")
    def msg(log: Option[Seq[String]] = None, ign: Option[Seq[String]] = None,
            payload: Boolean = false, hex: Boolean = false,
            wrap: Int = 80, prefix: String = ""): String =
      flowFrame(Seq(("hello world", attrs)))
        .select(Transforms.logAttributeMessage(col(FlowFrame.Content),
          log, ign, payload, hex, wrap, prefix)).collect()(0).getString(0)
    // filtering truth table (LogAttributeTests.cpp:83-128)
    val all = msg()
    assert(all.contains("key:eng value:apple") &&
      all.contains("key:ger value:Apfel") && all.contains("key:fra value:pomme"))
    val ignored = msg(ign = Some(Seq("eng", "fra")))
    assert(!ignored.contains("key:eng") && ignored.contains("key:ger") &&
      !ignored.contains("key:fra"))
    val logged = msg(log = Some(Seq("eng", "fra")))
    assert(logged.contains("key:eng") && !logged.contains("key:ger") &&
      logged.contains("key:fra"))
    val both = msg(log = Some(Seq("eng", "fra")), ign = Some(Seq("fra")))
    assert(both.contains("key:eng") && !both.contains("key:ger") &&
      !both.contains("key:fra"))
    // header plumbing: dash line, standard attrs, claim header
    assert(all.startsWith("Logging for flow file\n" + "-" * 50))
    // EntryDate/lineageStartDate in reference TIME_FORMAT (TimeUtil.h:45)
    val dateRe = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d{3}"""
    assert(("\nEntryDate:" + dateRe).r.findFirstIn(all).isDefined)
    assert(("\nlineageStartDate:" + dateRe).r.findFirstIn(all).isDefined)
    assert(all.contains("Size:11 Offset:0"))
    assert(all.contains("\nFlowFile Attributes Map Content"))
    assert(all.contains("\nFlowFile Resource Claim Content"))
    assert(all.endsWith("-" * 50))
    // prefix centered in the 50-dash line (fmt {:-^50})
    assert(msg(prefix = "foo").contains(
      "-" * 23 + "foo" + "-" * 24))
    assert(Transforms.logDashLine("x" * 60) === "x" * 60)
    // payload rendering: plain, wrapped, hex-encoded
    assert(msg(payload = true).contains("\nPayload:\nhello world\n"))
    assert(msg(payload = true, wrap = 4).contains(
      "\nPayload:\nhell\no wo\nrld\n"))
    assert(msg(payload = true, hex = true).contains(
      "\nPayload:\n68656c6c6f20776f726c64\n"))
    // empty payload with a wrap cap: the reference's chunk loop emits
    // nothing — no extra blank line before the closing dash
    val empty = flowFrame(Seq(("", attrs)))
      .select(Transforms.logAttributeMessage(col(FlowFrame.Content),
        None, None, true, false, 80, "")).collect()(0).getString(0)
    assert(empty.contains("\nPayload:\n" + "-" * 50))
    assert(!empty.contains("\nPayload:\n\n"))
  }

  test("RetryFlowFile routing matrix: reuse modes × uuid match × " +
       "non-numeric counts × retry limits (RetryFlowFileTests.cpp:190-245)") {
    val uuid = "proc-1"; val other = "proc-2"
    // (value-before, .uuid attr, maxRetries, failOnNonNum, reuseMode,
    //  expected relationship, expected outbound count attr)
    case class Case(value: Option[String], uuidAttr: Option[String],
                    maxRetries: Int = 3, failNonNum: Boolean = false,
                    mode: Routing.ReuseMode = Routing.FailOnReuse,
                    expRel: String, expCount: Option[String])
    val matrix = Seq(
      // no attr at all → first retry
      Case(None, None, expRel = "retry", expCount = Some("1")),
      // own uuid: plain counting up to the limit
      Case(Some("1"), Some(uuid), expRel = "retry", expCount = Some("2")),
      Case(Some("3"), Some(uuid), expRel = "retries_exceeded", expCount = Some("3")),
      Case(Some("4"), Some(uuid), expRel = "retries_exceeded", expCount = Some("4")),
      Case(Some("5"), Some(uuid), maxRetries = 6, expRel = "retry", expCount = Some("6")),
      // non-numeric count: reset to 0 (default) or fail when configured
      Case(Some("incorrect"), Some(uuid), expRel = "retry", expCount = Some("1")),
      Case(Some("incorrect"), Some(uuid), failNonNum = true,
        expRel = "failure", expCount = Some("incorrect")),
      Case(Some("incorrect"), Some(uuid), maxRetries = 6,
        expRel = "retry", expCount = Some("1")),
      // matching uuid: every reuse mode counts normally
      Case(Some("1"), Some(uuid), mode = Routing.FailOnReuse,
        expRel = "retry", expCount = Some("2")),
      Case(Some("1"), Some(uuid), mode = Routing.WarnOnReuse,
        expRel = "retry", expCount = Some("2")),
      Case(Some("1"), Some(uuid), mode = Routing.ResetReuse,
        expRel = "retry", expCount = Some("2")),
      // foreign uuid: Fail on Reuse (the default) routes to failure,
      // Warn/Reset restart the count at 0 → retry with 1
      Case(Some("1"), Some(other), expRel = "failure", expCount = Some("1")),
      Case(Some("1"), Some(other), mode = Routing.FailOnReuse,
        expRel = "failure", expCount = Some("1")),
      Case(Some("1"), Some(other), mode = Routing.WarnOnReuse,
        expRel = "retry", expCount = Some("1")),
      Case(Some("1"), Some(other), mode = Routing.ResetReuse,
        expRel = "retry", expCount = Some("1")))
    matrix.zipWithIndex.foreach { case (c, i) =>
      val attrs = c.value.map("flowfile.retries" -> _).toMap ++
        c.uuidAttr.map("flowfile.retries.uuid" -> _).toMap
      val out = Routing.retryFlowFile(flowFrame(Seq(("", attrs))),
        "flowfile.retries", c.maxRetries, processorUuid = Some(uuid),
        reuseMode = c.mode, failOnNonNumericalOverwrite = c.failNonNum,
        exceededAttrs = Seq(
          "retries_exceeded_property_key_1" -> "retries_exceeded_property_value_1",
          "retries_exceeded_property_key_2" -> "retries_exceeded_property_value_2"))
      val row = out.select(col(FlowFrame.Relationship),
        FlowFrame.attr("flowfile.retries"),
        FlowFrame.attr("retries_exceeded_property_key_1"),
        FlowFrame.attr("retries_exceeded_property_key_2")).collect()(0)
      withClue(s"matrix row $i ($c): ") {
        assert(row.getString(0) === c.expRel)
        assert(Option(row.getString(1)) === c.expCount)
        // the dynamic properties land ONLY on the retries_exceeded edge
        val exceeded = c.expRel == "retries_exceeded"
        assert((row.getString(2) == "retries_exceeded_property_value_1") === exceeded)
        assert((row.getString(3) == "retries_exceeded_property_value_2") === exceeded)
      }
    }
  }

  test("SplitText → MergeContent round trip with header copy") {
    val content = "h1\nh2\nl1\nl2\nl3\nl4\nl5"
    val df = flowFrame(Seq((content, Map[String, String]())))
      .withColumn("id", lit("d1"))
    val frags = SplitMerge.splitText(df, col("id"), col("content"), "\n", 2,
      headerLines = 2)
    val got = frags.orderBy("fragmentIndex")
      .select("fragment", "fragmentCount").collect()
    assert(got.map(_.getString(0)).toSeq === Seq(
      "h1\nh2\nl1\nl2", "h1\nh2\nl3\nl4", "h1\nh2\nl5"))
    assert(got.head.getLong(1) === 3L)
    // merge body-only fragments (no header) reassembles the original body
    val bodyFrags = SplitMerge.splitText(df, col("id"), col("content"), "\n", 2)
    val merged = SplitMerge.mergeContentDefragment(bodyFrags,
      col("`fragment.identifier`"), col("fragmentIndex"), col("fragment"),
      col("fragmentCount"), "\n")
    val m = merged.collect().head
    assert(m.getAs[String]("merged") === content)
    assert(m.getAs[String]("relationship") === "merged")
  }

  test("MergeContent routes incomplete fragment groups to failure") {
    val df = flowFrame(Seq(("x", Map[String, String]())))
    val frags = df.select(lit("g1").as("gid"), lit(0).as("idx"),
      lit("only-half").as("frag"), lit(2L).as("cnt"))
    val merged = SplitMerge.mergeContentDefragment(frags, col("gid"),
      col("idx"), col("frag"), col("cnt"), ",")
    assert(merged.collect().head.getAs[String]("relationship") === "failure")
  }

  test("SegmentContent fixed-size segments cover the content exactly") {
    val df = flowFrame(Seq(("abcdefghij", Map[String, String]())))
      .withColumn("id", lit(1L))
    val segs = SplitMerge.segmentContent(df, col("id"), col("content"), 4)
      .orderBy("segmentIndex").select("segment").collect().map(_.getString(0))
    assert(segs.toSeq === Seq("abcd", "efgh", "ij"))
  }

  test("SegmentContent byte input: Segment Size counts raw bytes, non-UTF8 " +
       "bytes survive, size table from the battery " +
       "(SegmentContentTests.cpp:134-170)") {
    def bytesOf(n: Int): Array[Byte] =
      Array.tabulate(n)(i => ((i * 31 + 7) % 256).toByte) // incl. >0x7F bytes
    // battery GENERATE table: (original, segment) → ceil coverage
    Seq((1020, 30), (1020, 31), (2000, 1010), (2000, 1050),
        (100, 100), (99, 100), (100, 99)).foreach { case (orig, seg) =>
      val data = bytesOf(orig)
      val df = spark.createDataFrame(Seq((1L, data))).toDF("id", "c")
      val segs = SplitMerge.segmentContent(df, col("id"), col("c"), seg)
        .orderBy("segmentIndex").select("segment")
        .collect().map(_.getAs[Array[Byte]](0))
      assert(segs.length === math.ceil(orig.toDouble / seg).toInt,
        s"($orig,$seg) segment count")
      assert(segs.map(_.length).sum === orig, s"($orig,$seg) coverage")
      assert(segs.flatten.toSeq === data.toSeq, s"($orig,$seg) bytes")
    }
    // flow dispatch keeps content binary (no string round trip) and
    // routes to "segments" (SegmentContent.h:50-53)
    val ff = flowFrame(Seq(("ab", Map.empty[String, String])))
    val out = graft.flow.Processors.apply(spark,
      graft.flow.ProcessorDef("seg", "seg",
        "org.apache.nifi.minifi.processors.SegmentContent", "TIMER_DRIVEN",
        "1 sec", Set.empty, Map("Segment Size" -> "1 B")), Some(ff))
    assert(out.filter(col("relationship") === "segments")
      .select(col(FlowFrame.Content).cast("string"))
      .collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
  }

  test("DefragmentText batch groups lines between start-pattern boundaries") {
    val lines = spark.createDataFrame(Seq(
      (1L, 1L, "START a"), (1L, 2L, "cont b"), (1L, 3L, "START c"),
      (1L, 4L, "cont d"), (2L, 5L, "cont orphan")))
      .toDF("src", "ord", "line")
    val out = SplitMerge.defragmentTextBatch(lines, col("src"), col("ord"),
      col("line"), "^START", "|").orderBy("source", "messageId")
    val msgs = out.select("message").collect().map(_.getString(0))
    assert(msgs.toSeq === Seq("START a|cont b", "START c|cont d", "cont orphan"))
  }

  test("RouteText routes per line with grouping (RouteText.cpp:218)") {
    val df = flowFrame(Seq(("error: boom\nwarn: eh\nerror: again",
      Map[String, String]())))
    val routed = Routing.routeText(df, col("content"), "\n",
      Seq(("errors", Routing.StartsWith, "error"),
          ("warns", Routing.StartsWith, "warn")),
      groupingRegex = Some("^(\\w+)"))
    val got = routed.groupBy("relationship").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("errors" -> 2L, "warns" -> 1L))
  }

  test("RouteText whitespace/case preprocess: trimmed+folded matching, " +
       "original line emitted (RouteText.cpp:231, RouteText.h:141)") {
    val df = spark.createDataFrame(Seq(Tuple1("  ERROR x \nwarn y\nok"))).toDF("c")
    val routed = Routing.routeText(df, col("c"), "\n",
      Seq(("errs", Routing.StartsWith, "error"),
          ("warns", Routing.StartsWith, "WARN")),
      trimWhitespace = true, ignoreCase = true)
    val got = routed.orderBy("lineNo")
      .select("relationship", "line").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // matching trims+folds; the emitted line is the RAW segment with its
    // line ending (RouteText.cpp:247 accumulates original_value)
    assert(got === Seq(("errs", "  ERROR x \n"), ("warns", "warn y\n"),
      ("unmatched", "ok")))
  }

  test("RouteText ALL/ANY routing strategies collapse to matched/unmatched " +
       "(RouteText.cpp:243-261)") {
    val df = spark.createDataFrame(Seq(
      Tuple1("error disk\nerror\nwarn disk\nok"))).toDF("c")
    val rules = Seq(
      ("r1", Routing.ContainsStr, "error"),
      ("r2", Routing.ContainsStr, "disk"))
    def rels(strategy: Routing.RoutingStrategy): Seq[String] =
      Routing.routeTextQuantified(df, col("c"), "\n", rules, strategy)
        .orderBy("lineNo").select("relationship")
        .collect().map(_.getString(0)).toSeq
    assert(rels(Routing.RouteAll) ===
      Seq("matched", "unmatched", "unmatched", "unmatched"))
    assert(rels(Routing.RouteAny) ===
      Seq("matched", "matched", "matched", "unmatched"))
  }

  test("RouteText Satisfies Expression: EL over segment/line variables " +
       "(RouteText.h:98, RouteTextTests.cpp:221,458)") {
    // one FlowFile per word as in RouteTextTests.cpp:221 — the EL sees the
    // RAW segment, so a multi-line content's non-final segments would
    // carry their "\n" into equals()
    val df = spark.createDataFrame(Seq(
      Tuple1("seven"), Tuple1("SeVeN"), Tuple1("ven"))).toDF("content")
    val routed = Routing.routeText(df, col("content"), "\n",
      Seq(("here", Routing.SatisfiesExpression, "${segment:equals('seven')}")))
    val rels = routed.orderBy(col("content")).select("relationship")
      .collect().map(_.getString(0)).toSeq
    // ordered by content: SeVeN, seven, ven
    assert(rels === Seq("unmatched", "here", "unmatched"))

    // injected 1-based lineNo/segmentNo variables (RouteTextTests.cpp:463)
    val df2 = spark.createDataFrame(Seq(Tuple1("toA\ntoB\ntoA"))).toDF("content")
    val byNo = Routing.routeText(df2, col("content"), "\n",
      Seq(("A1", Routing.SatisfiesExpression,
            "${line:startsWith('toA'):and(${lineNo:equals('1')})}"),
          ("A3", Routing.SatisfiesExpression,
            "${line:startsWith('toA'):and(${lineNo:equals('3')})}")))
    val got2 = byNo.orderBy("lineNo").select("relationship")
      .collect().map(_.getString(0)).toSeq
    assert(got2 === Seq("A1", "unmatched", "A3"))
  }

  test("ReplaceText applyReplacements expectations " +
       "(ReplaceTextTests.cpp:76-185)") {
    def apply(strategy: Transforms.ReplaceStrategy, search: String,
              replacement: String, input: String): String =
      spark.createDataFrame(Seq(Tuple1(input))).toDF("c")
        .select(Transforms.replaceText(col("c"), strategy, search, replacement))
        .collect()(0).getString(0)
    // Prepend / Append (ReplaceTextTests.cpp:76-94)
    assert(apply(Transforms.Prepend, "", "orange", "") === "orange")
    assert(apply(Transforms.Prepend, "", "orange", "s and lemons") === "oranges and lemons")
    assert(apply(Transforms.Append, "", "orange", "agent ") === "agent orange")
    // Regex Replace incl. back references (:96-146); reference $& / $1
    // map to Java regex $0 / $1
    assert(apply(Transforms.RegexReplace, "a\\w+e", "orange", "one apple, two apples")
      === "one orange, two oranges")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "$0 [found $1]",
      "xxx abc yyy abbbc zzz") === "xxx abc [found b] yyy abbbc [found bbb] zzz")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "$1 costs \\$2", "abc")
      === "b costs $2")
    // Literal / Always (:147-168)
    assert(apply(Transforms.LiteralReplace, "apple", "orange", "one apple, two apples")
      === "one orange, two oranges")
    assert(apply(Transforms.AlwaysReplace, "", "orange", "one apple, two apples")
      === "orange")
    // Substitute Variables (:170-185)
    val ff = flowFrame(Seq(("", Map("color" -> "green", "food" -> "eggs and ham"))))
    def subst(input: String): String =
      ff.select(Transforms.substituteVariables(lit(input), col(FlowFrame.Attributes)))
        .collect()(0).getString(0)
    assert(subst("no placeholders") === "no placeholders")
    assert(subst("${color}") === "green")
    assert(subst("I like ${color} ${food}!") === "I like green eggs and ham!")
    assert(subst("it was ${color}er than ${color}") === "it was greener than green")
    assert(subst("an empty ${} is left alone") === "an empty ${} is left alone")
    assert(subst("not ${found} is left alone") === "not ${found} is left alone")
  }

  test("ReplaceText back references: out-of-range blank, $$ escape, $& " +
       "whole match, empty-content line-by-line untouched " +
       "(ReplaceTextTests.cpp:121-146,328-355)") {
    def apply(strategy: Transforms.ReplaceStrategy, search: String,
              replacement: String, input: String): String =
      spark.createDataFrame(Seq(Tuple1(input))).toDF("c")
        .select(Transforms.replaceText(col("c"), strategy, search, replacement))
        .collect()(0).getString(0)
    // non-existent back reference -> blank, never a task crash
    assert(apply(Transforms.RegexReplace, "a(b+)c", "_$1_ '$2'", "") === "")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "_$1_ '$2'", "abc") === "_b_ ''")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "_$1_ '$2'", "cba") === "cba")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "_$1_ '$2'",
      "xxx abc yyy abbbc zzz") === "xxx _b_ '' yyy _bbb_ '' zzz")
    // reference $$ escape spelling and $& whole-match spelling
    assert(apply(Transforms.RegexReplace, "a(b+)c", "$1 costs $$2", "abc")
      === "b costs $2")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "<$&>", "abc") === "<abc>")
    // '$' before a non-digit, a trailing lone '$', and a trailing lone '\\'
    // are literal text, never a task-killing INVALID_REGEXP_REPLACE
    assert(apply(Transforms.RegexReplace, "a(b+)c", "price $x", "abc")
      === "price $x")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "trailing $", "abc")
      === "trailing $")
    assert(apply(Transforms.RegexReplace, "a(b+)c", "trailing \\", "abc")
      === "trailing \\")
    // empty content: entire-text prepend/append still applies, line-by-line
    // has no lines and passes through unchanged
    assert(apply(Transforms.Prepend, "", "hippopotamus\n", "") === "hippopotamus\n")
    val empty = spark.createDataFrame(Seq(Tuple1(""))).toDF("c")
    assert(empty.select(Transforms.replaceTextLineByLine(col("c"), "\n",
      Transforms.Prepend, "", "hippopotamus\n")).collect()(0).getString(0) === "")
    assert(empty.select(Transforms.replaceTextLineByLine(col("c"), "\n",
      Transforms.Append, "", "hippopotamus\n")).collect()(0).getString(0) === "")
  }

  test("ReplaceText line scoping + substitute variables + always replace " +
       "(ReplaceText.h:42-58, ReplaceTextTests.cpp)") {
    val df = spark.createDataFrame(Seq(
      Tuple1("apple\nbanana\ncherry"))).toDF("content")
    def lbl(scope: Transforms.LineScope): String =
      df.select(Transforms.replaceTextLineByLine(col("content"), "\n",
        Transforms.RegexReplace, "a", "_", scope)).collect()(0).getString(0)
    assert(lbl(Transforms.AllLines) === "_pple\nb_n_n_\ncherry")
    assert(lbl(Transforms.FirstLine) === "_pple\nbanana\ncherry")
    assert(lbl(Transforms.LastLine) === "apple\nbanana\ncherry")
    assert(lbl(Transforms.ExceptFirstLine) === "apple\nb_n_n_\ncherry")
    assert(lbl(Transforms.ExceptLastLine) === "_pple\nb_n_n_\ncherry")

    val ff = flowFrame(Seq(
      ("color is ${color}, missing is ${nope}", Map("color" -> "red"))))
    val subst = ff.select(Transforms.substituteVariables(
      col(FlowFrame.Content), col(FlowFrame.Attributes))).collect()(0).getString(0)
    assert(subst === "color is red, missing is ${nope}")

    val always = df.select(Transforms.replaceTextLineByLine(col("content"),
      "\n", Transforms.AlwaysReplace, "", "X", Transforms.ExceptFirstLine))
      .collect()(0).getString(0)
    assert(always === "apple\nX\nX")

    // flow dispatch reaches Substitute Variables and Always Replace —
    // previously both fell through to Regex Replace there
    def dispatch(props: (String, String)*) = graft.flow.Processors.apply(
      spark, graft.flow.ProcessorDef("r", "rt",
        "org.apache.nifi.minifi.processors.ReplaceText", "TIMER_DRIVEN",
        "1 sec", Set.empty, props.toMap),
      Some(flowFrame(Seq(
        ("I like ${color} ${food}!", Map("color" -> "green",
          "food" -> "eggs and ham"))))))
      .select(col(FlowFrame.Content).cast("string"))
      .collect()(0).getString(0)
    assert(dispatch("Replacement Strategy" -> "Substitute Variables")
      === "I like green eggs and ham!")
    assert(dispatch("Replacement Strategy" -> "Always Replace",
      "Evaluation Mode" -> "Entire text", "Replacement Value" -> "orange")
      === "orange")
  }

  test("range-partitioned chunking: per-chunk cap holds and chunk ranges " +
       "are pairwise disjoint (SplitRecord/QueryDatabaseTable scale shape)") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val ord = Seq(col("l_orderkey"), col("l_linenumber"))
    val chunks = graft.ops.SplitMerge.splitRecordChunks(li, ord, 500)
      .groupBy(col("chunkPart"), col("chunkId"))
      .agg(count(lit(1)).as("recCount"),
        min(struct(col("l_orderkey"), col("l_linenumber"))).as("ordMin"),
        max(struct(col("l_orderkey"), col("l_linenumber"))).as("ordMax"))
      .persist()
    assert(chunks.agg(max(col("recCount"))).collect()(0).getLong(0) <= 500)
    assert(chunks.agg(sum(col("recCount"))).collect()(0).getLong(0) === li.count())
    val ok = graft.ops.SplitMerge.chunkRangesDisjoint(chunks)
      .collect()(0).getBoolean(0)
    assert(ok, "chunk ranges must be pairwise disjoint")
    chunks.unpersist()

    val lis = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select("l_shipdate", "l_orderkey", "l_linenumber")
    val qdb = graft.ops.SqlOps.queryDatabaseTable(lis, col("l_shipdate"),
      lit("1995-06-01").cast("timestamp_ntz"),
      Seq(col("l_shipdate"), col("l_orderkey"), col("l_linenumber")), 500)
      .persist()
    assert(qdb.agg(max(col("rowCount"))).collect()(0).getLong(0) <= 500)
    val ok2 = graft.ops.SplitMerge.chunkRangesDisjoint(qdb)
      .collect()(0).getBoolean(0)
    assert(ok2, "incremental pull chunks must be pairwise disjoint")
    qdb.unpersist()
  }

  test("GetFile filters: size bounds, hidden files, recursion " +
       "(GetFile.h File Filter / Min-Max Size / Ignore Hidden)") {
    import graft.ops.Sources
    val dir = java.nio.file.Files.createTempDirectory("getfile_spec")
    java.nio.file.Files.writeString(dir.resolve("small.txt"), "ab")
    java.nio.file.Files.writeString(dir.resolve("big.txt"), "x" * 100)
    java.nio.file.Files.writeString(dir.resolve(".hidden.txt"), "secret")
    val sub = java.nio.file.Files.createDirectory(dir.resolve("sub"))
    java.nio.file.Files.writeString(sub.resolve("nested.txt"), "nested")

    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select(substring_index(col("path"), "/", -1)).collect()
        .map(_.getString(0)).toSet

    assert(names(Sources.getFileFiltered(spark, dir.toString, "*.txt"))
      === Set("small.txt", "big.txt"))
    assert(names(Sources.getFileFiltered(spark, dir.toString, "*.txt",
      recursive = true)) === Set("small.txt", "big.txt", "nested.txt"))
    assert(names(Sources.getFileFiltered(spark, dir.toString, "*.txt",
      minSize = 10)) === Set("big.txt"))
    assert(names(Sources.getFileFiltered(spark, dir.toString, "*.txt",
      maxSize = 10)) === Set("small.txt"))
    // hidden files are excluded by the Hadoop listing itself
    assert(!names(Sources.getFileFiltered(spark, dir.toString, "*.txt"))
      .contains(".hidden.txt"))
    // all files just written: min-age in the future filters everything
    assert(Sources.getFileFiltered(spark, dir.toString, "*.txt",
      minAgeMs = 3600000).count() === 0)
    // cloud list+fetch mapping: the same reader takes any Hadoop FS
    // scheme-qualified URI (s3a://, gs://, abfss://, ... — file:// locally)
    assert(names(Sources.getFileFiltered(spark, s"file://$dir", "*.txt"))
      === Set("small.txt", "big.txt"))
  }

  test("GCS family scheme claim (ListGCSBucket/FetchGCSObject/PutGCSObject/" +
       "DeleteGCSObject, extensions/gcp/processors/): gs:// URIs flow " +
       "through the identical Path plumbing the listing/fetch walk uses — " +
       "the same Hadoop-FS subsumption as S3/Azure") {
    import org.apache.hadoop.fs.Path
    val p = new Path("gs://bucket/dir/sub/obj.txt")
    assert(p.toUri.getScheme === "gs")
    assert(p.toUri.getAuthority === "bucket")   // the GCS bucket
    assert(p.getName === "obj.txt")             // the object key's basename
    // ListFile's relative `path` attribute is pure URI arithmetic —
    // identical for any scheme, no live connector needed
    val root = new Path("gs://bucket/dir").toUri
    assert(root.relativize(p.getParent.toUri).getPath === "sub")
    // and the local live stand-in: the same getFileFiltered call, only the
    // scheme differs (the file:// assertions above)
  }

  test("SegmentContent: empty content emits no segments " +
       "(SegmentContentTests.cpp:81-95)") {
    import graft.ops.SplitMerge
    val df = spark.createDataFrame(Seq((1L, ""), (2L, "abcdefghijk")))
      .toDF("id", "c")
    val segs = SplitMerge.segmentContent(df, col("id"), col("c"), 10)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(segs === Seq((2L, "abcdefghij"), (2L, "k"))) // nothing for id 1
  }

  test("SplitContent keep/leading/trailing and empty-split dropping " +
       "(SplitContentTests.cpp rub-a-dub-dub / ababab batteries)") {
    import graft.ops.SplitMerge
    def run(input: String, delim: String, keep: Boolean,
            loc: SplitMerge.ByteSequenceLocation): Seq[String] =
      SplitMerge.splitContent(
        spark.createDataFrame(Seq((1L, input))).toDF("id", "c"),
        col("id"), col("c"), delim, keep, loc)
        .orderBy("fragmentIndex").select("fragment")
        .collect().map(_.getString(0)).toSeq
    assert(run("rub-a-dub-dub", "ub", keep = true, SplitMerge.Trailing)
      === Seq("rub", "-a-dub", "-dub"))
    assert(run("rub-a-dub-dub", "ub", keep = true, SplitMerge.Leading)
      === Seq("r", "ub-a-d", "ub-d", "ub"))
    assert(run("ababab", "ab", keep = true, SplitMerge.Trailing)
      === Seq("ab", "ab", "ab"))
    assert(run("ababab", "ab", keep = true, SplitMerge.Leading)
      === Seq("ab", "ab", "ab"))
    // strip mode: a content of only byte sequences emits nothing
    assert(run("abab", "ab", keep = false, SplitMerge.Trailing) === Seq.empty)
  }

  test("SplitContent tricky overlapping sequences and no-splitter passthrough " +
       "(SplitContentTests.cpp:391-543)") {
    import graft.ops.SplitMerge
    def run(input: String, delim: String, keep: Boolean,
            loc: SplitMerge.ByteSequenceLocation): Seq[String] =
      SplitMerge.splitContent(
        spark.createDataFrame(Seq((1L, input))).toDF("id", "c"),
        col("id"), col("c"), delim, keep, loc)
        .orderBy("fragmentIndex").select("fragment")
        .collect().map(_.getString(0)).toSeq
    // no splitter present: whole content as fragment 1 of 1
    assert(run("UVAT", ",", keep = false, SplitMerge.Trailing) === Seq("UVAT"))
    // overlapping candidate 'aab' in "aaabc"
    assert(run("aaabc", "aab", keep = true, SplitMerge.Leading) === Seq("a", "aabc"))
    assert(run("aaabc", "aab", keep = true, SplitMerge.Trailing) === Seq("aaab", "c"))
    // partial matches before the real one: "abcabcabcdabc" on 'abcd'
    assert(run("abcabcabcdabc", "abcd", keep = true, SplitMerge.Leading)
      === Seq("abcabc", "abcdabc"))
    assert(run("abcabcabcdabc", "abcd", keep = true, SplitMerge.Trailing)
      === Seq("abcabcabcd", "abc"))
    // double leading sequence at the start keeps each occurrence
    // (hex-format bytes 05x8 + 01 02 03 04 split on 05050505)
    val s05 = "\u0005\u0005\u0005\u0005"
    val tail = "\u0001\u0002\u0003\u0004"
    assert(run(s05 + s05 + tail, s05, keep = true, SplitMerge.Leading)
      === Seq(s05, s05 + tail))
  }

  test("SplitContent keep/location table, sequence-at-edges, 1-based " +
       "index + count (SplitContentTests.cpp:110-146,248-389,391-417)") {
    import graft.ops.SplitMerge
    def run(input: String, delim: String, keep: Boolean,
            loc: SplitMerge.ByteSequenceLocation): Seq[String] =
      SplitMerge.splitContent(
        spark.createDataFrame(Seq((1L, input))).toDF("id", "c"),
        col("id"), col("c"), delim, keep, loc)
        .orderBy("fragmentIndex").select("fragment")
        .collect().map(_.getString(0)).toSeq
    // TextFormatSplits GENERATE table (cpp:110)
    val in1 = "This is a test. This is another test. And this is yet another test. Finally this is the last Test."
    val in2 = "This is a test. This is another test. And this is yet another test. Finally this is the last test"
    assert(run(in1, "test", keep = true, SplitMerge.Leading) === Seq(
      "This is a ", "test. This is another ", "test. And this is yet another ",
      "test. Finally this is the last Test."))
    assert(run(in1, "test", keep = false, SplitMerge.Leading) === Seq(
      "This is a ", ". This is another ", ". And this is yet another ",
      ". Finally this is the last Test."))
    assert(run(in1, "test", keep = true, SplitMerge.Trailing) === Seq(
      "This is a test", ". This is another test", ". And this is yet another test",
      ". Finally this is the last Test."))
    assert(run(in2, "test", keep = true, SplitMerge.Leading) === Seq(
      "This is a ", "test. This is another ", "test. And this is yet another ",
      "test. Finally this is the last ", "test"))
    assert(run(in2, "test", keep = true, SplitMerge.Trailing) === Seq(
      "This is a test", ". This is another test", ". And this is yet another test",
      ". Finally this is the last test"))
    // sequence at the edges (cpp:248-389; 05x4 / 01 02 03 04 bytes as chars)
    val s05 = "\u0005\u0005\u0005\u0005"
    val tail = "\u0001\u0002\u0003\u0004"
    assert(run(tail + s05, s05, keep = false, SplitMerge.Trailing) === Seq(tail))
    assert(run(tail + s05, s05, keep = true, SplitMerge.Trailing) === Seq(tail + s05))
    assert(run(s05 + tail, s05, keep = false, SplitMerge.Trailing) === Seq(tail))
    assert(run(s05 + tail, s05, keep = true, SplitMerge.Trailing) === Seq(s05, tail))
    assert(run(s05 + tail, s05, keep = true, SplitMerge.Leading) === Seq(s05 + tail))
    // non-overlapping leftmost matching (SmallSplits, cpp:148: FF FF FF
    // splits once on FFFF, third FF stays with the tail)
    val ff = "\u00FF"
    assert(run(tail + ff * 3 + tail, ff * 2, keep = false, SplitMerge.Trailing)
      === Seq(tail, ff + tail))
    // 1-based fragment.index and fragment.count (cpp:391 NoSplitterInString)
    val one = SplitMerge.splitContent(
      spark.createDataFrame(Seq((1L, "UVAT"))).toDF("id", "c"),
      col("id"), col("c"), ",").collect()
    assert(one.length === 1)
    assert(one.head.getAs[Int]("fragmentIndex") === 1)
    assert(one.head.getAs[Long]("fragmentCount") === 1L)
  }

  test("SplitContent binary mode: byte-exact splits with non-UTF8 bytes, " +
       "hex default format through flow dispatch " +
       "(SplitContentTests.cpp:148-389, SplitContent.h:40-49)") {
    import graft.ops.SplitMerge
    def bv(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    def run(input: Array[Byte], delim: Array[Byte], keep: Boolean,
            loc: SplitMerge.ByteSequenceLocation): Seq[Seq[Byte]] =
      SplitMerge.splitContentBinary(
        spark.createDataFrame(Seq((1L, input))).toDF("id", "c"),
        col("id"), col("c"), delim, keep, loc)
        .orderBy("fragmentIndex").select("fragment")
        .collect().map(_.getAs[Array[Byte]](0).toSeq).toSeq
    val d4 = bv(5, 5, 5, 5)
    val tail = bv(1, 2, 3, 4)
    // SmallSplits: FFFF over FF FF FF — leftmost non-overlapping match,
    // the third FF stays payload (cpp:148)
    assert(run(bv(1, 2, 3, 4, 5, 0xFF, 0xFF, 0xFF, 5, 4, 3, 2, 1),
        bv(0xFF, 0xFF), keep = false, SplitMerge.Trailing)
      === Seq(bv(1, 2, 3, 4, 5).toSeq, bv(0xFF, 5, 4, 3, 2, 1).toSeq))
    // WithSingleByteSplit (cpp:173)
    assert(run(bv(1, 2, 3, 4, 5, 0xFF, 5, 4, 3, 2, 1),
        bv(0xFF), keep = false, SplitMerge.Trailing)
      === Seq(bv(1, 2, 3, 4, 5).toSeq, bv(5, 4, 3, 2, 1).toSeq))
    // KeepingSequence: trailing keep, match at the first full run (cpp:223)
    assert(run(bv(1, 2, 3, 4, 5, 5, 5, 5, 5, 5, 4, 3, 2, 1),
        d4, keep = true, SplitMerge.Trailing)
      === Seq(bv(1, 2, 3, 4, 5, 5, 5, 5).toSeq, bv(5, 5, 4, 3, 2, 1).toSeq))
    // EndsWithSequence / AndKeepSequence (cpp:248,271)
    assert(run(tail ++ d4, d4, keep = false, SplitMerge.Trailing)
      === Seq(tail.toSeq))
    assert(run(tail ++ d4, d4, keep = true, SplitMerge.Trailing)
      === Seq((tail ++ d4).toSeq))
    // StartsWith family (cpp:294,317,343,365)
    assert(run(d4 ++ tail, d4, keep = false, SplitMerge.Trailing)
      === Seq(tail.toSeq))
    assert(run(d4 ++ tail, d4, keep = true, SplitMerge.Trailing)
      === Seq(d4.toSeq, tail.toSeq))
    assert(run(d4 ++ tail, d4, keep = true, SplitMerge.Leading)
      === Seq((d4 ++ tail).toSeq))
    assert(run(d4 ++ d4 ++ tail, d4, keep = true, SplitMerge.Leading)
      === Seq(d4.toSeq, (d4 ++ tail).toSeq))
    // OnlyByteSequences family (cpp:545-600)
    val ab = "ab".getBytes
    val ab3 = "ababab".getBytes
    assert(run(ab3, ab, keep = false, SplitMerge.Trailing) === Seq.empty)
    assert(run(ab3, ab, keep = true, SplitMerge.Trailing)
      === Seq(ab.toSeq, ab.toSeq, ab.toSeq))
    assert(run(ab3, ab, keep = true, SplitMerge.Leading)
      === Seq(ab.toSeq, ab.toSeq, ab.toSeq))
    // empty content → no splits (cpp:45 EmptyFlowFile)
    assert(run(Array.empty[Byte], ab, keep = true, SplitMerge.Leading)
      === Seq.empty)
    // flow dispatch: hexadecimal is the DEFAULT Byte Sequence Format
    val ffIn = flowFrame(Seq(("a,b", Map.empty[String, String])))
    val hexSplit = graft.flow.Processors.apply(spark,
      graft.flow.ProcessorDef("s", "split",
        "org.apache.nifi.minifi.processors.SplitContent", "TIMER_DRIVEN",
        "1 sec", Set.empty, Map("Byte Sequence" -> "2c")), Some(ffIn))
    assert(hexSplit.filter(col("relationship") === "splits")
      .select(col(FlowFrame.Content).cast("string"))
      .collect().map(_.getString(0)).sorted.toSeq === Seq("a", "b"))
  }

  test("GenerateFlowFile battery: unique vs shared batch content, exact " +
       "sizes, empty file, unmatched-EL Custom Text → empty string " +
       "(GenerateFlowFileTests.cpp:30-153)") {
    import graft.ops.Sources
    def contents(mode: Sources.GenerateMode, size: Int = 10,
                 text: String = ""): Seq[String] =
      Sources.generateFlowFilesMode(spark, 2, size, mode, customText = text)
        .orderBy("file_id").select(col("content").cast("string"))
        .collect().map(_.getString(0)).toSeq
    val unique = contents(Sources.UniqueText)
    assert(unique(0).length === 10 && unique(1).length === 10)
    assert(unique(0) !== unique(1))
    val shared = contents(Sources.NotUniqueText)
    assert(shared(0) === shared(1) && shared(0).length === 10)
    // a later trigger refreshes the shared data (refreshNonUniqueData)
    val shared2 = Sources.generateFlowFilesMode(spark, 2, 10,
      Sources.NotUniqueText, trigger = 1L)
      .select(col("content").cast("string")).collect().map(_.getString(0))
    assert(shared2(0) !== shared(0))
    // empty file size → empty content (cpp:71)
    assert(contents(Sources.EmptyContent, 0) === Seq("", ""))
    // Custom Text referencing an unset attribute renders EMPTY, not null
    // (cpp:139 "CustomText evaluates to empty string")
    assert(contents(Sources.CustomText, text = "${invalid_variable}") ===
      Seq("", ""))
    // literal Custom Text shared across the batch (cpp:87)
    assert(contents(Sources.CustomText, text = "hello") === Seq("hello", "hello"))
  }

  test("SplitText strict header-edge routing (SplitTextTests.cpp:598-642)") {
    import graft.ops.SplitMerge
    def run(input: String, splitCount: Int, headerCount: Int) =
      SplitMerge.splitTextStrict(
        spark.createDataFrame(Seq((1L, input))).toDF("id", "c"),
        col("id"), col("c"), "\n", splitCount, headerCount)
        .select("relationship", "fragment").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq

    // header (4) larger than the 3-line content -> whole content to failure
    val failing = run("header line 1\nheader line 2\nthis is a new line\n", 1, 4)
    assert(failing === Seq(("failure",
      "header line 1\nheader line 2\nthis is a new line\n")))
    // empty flow file with a header expected -> failure too
    assert(run("", 1, 4).map(_._1) === Seq("failure"))
    // header == line count -> no split rows at all
    assert(run("header line 1\nheader line 2\nthis is a new line\n", 1, 3)
      === Seq.empty)
    // normal split: header copied onto each fragment
    val ok = run("h\nbody one\nbody two\n", 1, 1)
    assert(ok === Seq(("splits", "h\nbody one"), ("splits", "h\nbody two")))
  }

  test("Journald export parse: fields to attributes, raw + syslog payloads " +
       "(ConsumeJournald.cpp:106-121,173-200)") {
    import graft.ops.Journald
    val export =
      "MESSAGE=disk full\n_HOSTNAME=web1\nSYSLOG_IDENTIFIER=kernel\n" +
      "_PID=42\n__REALTIME_TIMESTAMP=1704067200000000\nNOTE=a=b=c\n" +
      "\n" +
      "MESSAGE=second entry\n__REALTIME_TIMESTAMP=1704067201000000\n"
    val df = spark.createDataFrame(Seq(Tuple1(export))).toDF("export")
    val entries = Journald.splitEntries(df, col("export"))
      .withColumn("fields", Journald.fieldsMap(col("entry")))
    val rows = entries.orderBy("entryNo").select(
      Journald.rawPayload(col("fields")),
      Journald.syslogPayload(col("fields")),
      element_at(col("fields"), "NOTE")).collect()
    assert(rows.length === 2)
    assert(rows(0).getString(0) === "disk full")
    assert(rows(0).getString(1) === "Jan 01 00:00:00 web1 kernel[42]: disk full")
    assert(rows(0).getString(2) === "a=b=c") // value keeps embedded '='
    assert(rows(1).getString(0) === "second entry")
    assert(rows(1).getString(1) === "Jan 01 00:00:01 - -: second entry")

    // ISO8601 Timestamp Format (ConsumeJournaldTest.cpp:162-177 pins the
    // microsecond ISO rendering "2021-04-15T17:17:09.123456+00:00"); the
    // battery's exact timestamp: 1618507029123456 µs
    val iso = spark.createDataFrame(Seq(Tuple1(
      "MESSAGE=Mounted /boot.\n_HOSTNAME=test-pc\n" +
      "SYSLOG_IDENTIFIER=systemd\n_PID=1\n" +
      "__REALTIME_TIMESTAMP=1618507029123456\n"))).toDF("export")
    val isoRow = Journald.splitEntries(iso, col("export"))
      .withColumn("fields", Journald.fieldsMap(col("entry")))
      .select(
        Journald.syslogPayloadFmt(col("fields"), "ISO8601"),
        Journald.journaldTimestamp(col("fields"), "ISO 8601"))
      .collect().head
    assert(isoRow.getString(0) ===
      "2021-04-15T17:17:09.123456+00:00 test-pc systemd[1]: Mounted /boot.")
    assert(isoRow.getString(1) === "2021-04-15T17:17:09.123456+00:00")
  }

  test("MergeContent attribute strategies: keep-only-common vs " +
       "keep-all-unique (MergeFileTests.cpp:600-700)") {
    import graft.ops.SplitMerge
    // three members of one bin, tags per the reference fixture:
    // i=0: tagUncommon=uncommon1; i=1: tagUnique1 + tagUncommon=uncommon2;
    // i=2: tagUnique2 + tagUncommon=uncommon1; all carry tagCommon
    val members = flowFrame(Seq(
      ("c0", Map("tagCommon" -> "common", "tagUncommon" -> "uncommon1")),
      ("c1", Map("tagCommon" -> "common", "tagUncommon" -> "uncommon2",
        "tagUnique1" -> "unique1")),
      ("c2", Map("tagCommon" -> "common", "tagUncommon" -> "uncommon1",
        "tagUnique2" -> "unique2"))))
      .withColumn("gid", lit("bin0"))
    def attrsOf(keepOnlyCommon: Boolean): Map[String, String] =
      SplitMerge.mergedAttributes(members, col("gid"),
        col(FlowFrame.Attributes), keepOnlyCommon)
        .collect()(0).getAs[Map[String, String]]("mergedAttrs")
    assert(attrsOf(true) === Map("tagCommon" -> "common"))
    assert(attrsOf(false) === Map("tagCommon" -> "common",
      "tagUnique1" -> "unique1", "tagUnique2" -> "unique2"))
  }

  test("MergeContent attribute strategies: a null value counts as " +
       "presence, never as a value; partial keys survive only Keep All " +
       "Unique") {
    import graft.ops.SplitMerge
    // a: on all, one value; b: null on m0, "2" on m1/m3, absent on m2;
    // c: two values; d: only on m2; e: only null; f: null on m0, "z" else
    val members = flowFrame(Seq(
      ("m0", Map("a" -> "1", "b" -> null, "c" -> "x", "f" -> null)),
      ("m1", Map("a" -> "1", "b" -> "2", "c" -> "x", "f" -> "z")),
      ("m2", Map("a" -> "1", "c" -> "y", "d" -> "4", "f" -> "z")),
      ("m3", Map("a" -> "1", "b" -> "2", "e" -> null, "f" -> "z"))))
      .withColumn("gid", lit("bin0"))
    def attrsOf(keepOnlyCommon: Boolean): Map[String, String] =
      SplitMerge.mergedAttributes(members, col("gid"),
        col(FlowFrame.Attributes), keepOnlyCommon)
        .collect()(0).getAs[Map[String, String]]("mergedAttrs")
    assert(attrsOf(true) === Map("a" -> "1", "f" -> "z"))
    assert(attrsOf(false) === Map("a" -> "1", "b" -> "2", "d" -> "4",
      "f" -> "z"))
  }

  test("MergeContent TAR/ZIP formats pack a whole bin into one archive " +
       "(MergeContent.h:293-331)") {
    import graft.ops.Archive
    val frags = spark.createDataFrame(Seq(
      ("g1", 0, "alpha"), ("g1", 1, "beta"), ("g1", 2, "gamma")))
      .toDF("gid", "idx", "payload")
    val bins = frags.groupBy(col("gid")).agg(
      sort_array(collect_list(struct(col("idx"), col("payload")))).as("entries"))
      .select(col("gid"),
        transform(col("entries"), e => concat(lit("f"), e.getField("idx")))
          .as("names"),
        transform(col("entries"), e => e.getField("payload").cast("binary"))
          .as("payloads"))
    val packed = bins.select(col("gid"),
      Archive.zipPackMulti(col("names"), col("payloads")).as("zip"),
      Archive.tarPackMulti(col("names"), col("payloads")).as("tar"))
    val row = packed.select(
      Archive.zipEntries(col("zip")),
      Archive.zipFocus(col("zip"), lit("f1")).cast("string"),
      Archive.tarEntries(col("tar")),
      Archive.tarFocus(col("tar"), lit("f2")).cast("string")).collect()(0)
    assert(row.getSeq[String](0) === Seq("f0", "f1", "f2"))
    assert(row.getString(1) === "beta")
    assert(row.getSeq[String](2) === Seq("f0", "f1", "f2"))
    assert(row.getString(3) === "gamma")
  }

  test("archive readers are total: malformed bytes yield null, " +
       "zipManipulate routes failure (ManipulateArchive error relationship)") {
    import graft.ops.Archive
    // bytes that LOOK like a zip local header but are truncated garbage
    val junk = Array[Byte](0x50, 0x4b, 0x03, 0x04, 1, 2, 3)
    val df = spark.createDataFrame(Seq(Tuple1(junk))).toDF("a")
    val r = df.select(
      Archive.zipFocus(col("a"), lit("x")).as("zf"),
      Archive.tarFocus(col("a"), lit("x")).as("tf"),
      Archive.tarEntries(col("a")).as("te"),
      Archive.zipManipulate(col("a"), lit("remove"), lit("x"), lit(""),
        lit(""), lit("")).getField("_2").as("rel")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.isNullAt(2) || r.getSeq[String](2).isEmpty)
    assert(r.getString(3) === "failure")
  }

  test("EvaluateJsonPath routes unresolved paths to unmatched " +
       "(EvaluateJsonPath.h:32-48)") {
    val ff = flowFrame(Seq(
      ("""{"a":1,"b":2}""", Map.empty[String, String]),
      ("""{"a":1}""", Map.empty[String, String])))
    val routed = Transforms.evaluateJsonPathRouted(ff, col(FlowFrame.Content),
      Seq(("va", "$.a"), ("vb", "$.b")))
    val rels = routed.select("relationship").collect().map(_.getString(0)).toSeq
    assert(rels === Seq("matched", "unmatched"))
  }

  test("AttributesToJSON writes missing selected attributes as \"\" or " +
       "null per NullValue (AttributesToJSONTests.cpp:166-180)") {
    val ff = flowFrame(Seq(("", Map("my_attribute" -> "my_value",
      "empty_attribute" -> ""))))
    val names = Seq("my_attribute", "non_existent_attribute", "empty_attribute")
    assert(ff.select(Transforms.attributesToJson(names))
      .collect()(0).getString(0) ===
      """{"my_attribute":"my_value","non_existent_attribute":"","empty_attribute":""}""")
    assert(ff.select(Transforms.attributesToJson(names, nullForMissing = true))
      .collect()(0).getString(0) ===
      """{"my_attribute":"my_value","non_existent_attribute":null,"empty_attribute":""}""")
  }

  test("AttributesToJSON selection battery: regex keeps matching core " +
       "attributes, list+regex union, all-mode core filter, no-match empty " +
       "object (AttributesToJSONTests.cpp:199-292)") {
    val ff = flowFrame(Seq(("", Map(
      "my_attribute" -> "my_value", "my_attribute_1" -> "my_value_1",
      "other_attribute" -> "other_value", "empty_attribute" -> "",
      "filename" -> "tstFile.ext", "path" -> "./"))))
    def parse(c: org.apache.spark.sql.Column): Map[String, Option[String]] = {
      val s = ff.select(c).collect()(0).getString(0)
      val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      import scala.jdk.CollectionConverters._
      m.properties().asScala.map(e => e.getKey ->
        (if (e.getValue.isNull) None else Some(e.getValue.asText()))).toMap
    }
    // regex selection keeps the attrs it matches — even without the list
    assert(parse(Transforms.attributesToJsonSelected(Nil, Some("[a-z]+y_attribute")))
      === Map("empty_attribute" -> Some(""), "my_attribute" -> Some("my_value")))
    // core attributes ARE written when they match the regex, regardless of
    // Include Core Attributes (AttributesToJSONTests.cpp:250)
    assert(parse(Transforms.attributesToJsonSelected(Nil, Some("file.*")))
      === Map("filename" -> Some("tstFile.ext")))
    // list + regex union, list keys never duplicated
    assert(parse(Transforms.attributesToJsonSelected(
      Seq("filename", "path", "my_attribute"), Some("[a-z]+y_attribute")))
      === Map("filename" -> Some("tstFile.ext"), "path" -> Some("./"),
        "my_attribute" -> Some("my_value"), "empty_attribute" -> Some("")))
    // no matching attribute in list nor by regex → empty JSON object
    assert(parse(Transforms.attributesToJsonSelected(Nil, Some("non-exist.*")))
      === Map.empty)
    // NullValue battery case through the selected path: missing list key →
    // JSON null when NullValue=true, "" otherwise; existing empty stays ""
    assert(parse(Transforms.attributesToJsonSelected(
      Seq("my_attribute", "non_existent_attribute", "empty_attribute"), None,
      nullForMissing = true))
      === Map("my_attribute" -> Some("my_value"),
        "non_existent_attribute" -> None, "empty_attribute" -> Some("")))
    assert(parse(Transforms.attributesToJsonSelected(
      Seq("non_existent_attribute"), None))
      === Map("non_existent_attribute" -> Some("")))
    // all-mode: Include Core Attributes=false drops the core set
    assert(parse(Transforms.attributesToJsonAll(includeCore = false))
      === Map("my_attribute" -> Some("my_value"),
        "my_attribute_1" -> Some("my_value_1"),
        "other_attribute" -> Some("other_value"),
        "empty_attribute" -> Some("")))
    // all-mode default keeps everything
    assert(parse(Transforms.attributesToJsonAll()).size === 6)
    // special characters survive JSON escaping round-trip
    val spec = flowFrame(Seq(("", Map("special_attribute" -> "\\\""))))
    val sj = spec.select(Transforms.attributesToJsonSelected(
      Seq("special_attribute"), None)).collect()(0).getString(0)
    val sv = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(sj).get("special_attribute").asText()
    assert(sv === "\\\"")
  }

  test("InvokeHTTP attributes-to-headers regex projection (InvokeHTTP.h)") {
    val ff = flowFrame(Seq(("", Map(
      "http.header.accept" -> "json", "http.header.auth" -> "tok",
      "internal.id" -> "42"))))
    val headers = ff.select(graft.ops.Exec.attributesToHeaders(
      col(FlowFrame.Attributes), "^http\\.header\\..*").as("h"))
      .collect()(0).getMap[String, String](0)
    assert(headers === Map("http.header.accept" -> "json",
      "http.header.auth" -> "tok"))
  }

  test("AppendHostInfo interface filter: unmatchable regex drops the IP " +
       "attribute, loopback-only match yields 127.0.0.1 " +
       "(AppendHostInfoTests.cpp:27-85)") {
    import graft.ops.Transforms
    val df = flowFrame(Seq(("", Map[String, String]())))
    def attrs(filter: Option[String]): Map[String, String] =
      Transforms.appendHostInfo(df, interfaceNameFilter = filter)
        .select(col(FlowFrame.Attributes)).collect()(0)
        .getMap[String, String](0).toMap
    val noFilter = attrs(None)
    assert(noFilter.contains("source.hostname"))
    assert(noFilter.contains("source.ipv4"))
    // a regex matching no interface: hostname present, NO ipv4 attribute
    val unmatchable = attrs(Some("\\b"))
    assert(unmatchable.contains("source.hostname"))
    assert(!unmatchable.contains("source.ipv4"))
    // loopback-only: the joined address list is exactly 127.0.0.1
    val loopback = attrs(Some("lo"))
    assert(loopback.get("source.ipv4").contains("127.0.0.1"))
  }

  test("HTTP header field helpers match the reference vectors " +
       "(HTTPClientTests.cpp:104-121; HTTPClient.cpp:503-530)") {
    import graft.ops.Exec._
    assert(!isValidHttpHeaderField(""))
    assert(isValidHttpHeaderField("valid"))
    assert(!isValidHttpHeaderField(" "))
    assert(!isValidHttpHeaderField("invalid" + 11.toChar + "character"))
    assert(!isValidHttpHeaderField("invalid" + 128.toChar + "character"))
    assert(!isValidHttpHeaderField("contains:invalid"))
    assert(replaceInvalidCharactersInHttpHeaderFieldName("") ===
      "X-MiNiFi-Empty-Attribute-Name")
    assert(replaceInvalidCharactersInHttpHeaderFieldName("valid") === "valid")
    assert(replaceInvalidCharactersInHttpHeaderFieldName(" ") === "-")
    assert(replaceInvalidCharactersInHttpHeaderFieldName(
      "invalid" + 11.toChar + "character") === "invalid-character")
    assert(replaceInvalidCharactersInHttpHeaderFieldName(
      "invalid" + 128.toChar + "character") === "invalid-character")
    assert(replaceInvalidCharactersInHttpHeaderFieldName("contains:invalid")
      === "contains-invalid")
    assert(removeInvalidCharactersFromHttpHeaderFieldBody("abc")
      === "abc")
  }

  test("InvokeHTTP header policy: full-string attribute matching and the " +
       "fail/drop/transform strategies (InvokeHTTPTests.cpp:140-306)") {
    import graft.ops.Exec
    val attrs = Map("header1" -> "v1", "header1suffix" -> "v2",
      "bad:name" -> "v3", "other" -> "v4")
    def prep(regex: String, strategy: String): Map[String, String] = {
      val r = flowFrame(Seq(("", attrs)))
        .select(Exec.headerPrepUdf(Some(regex), strategy)(
          col(FlowFrame.Attributes)).as("h")).collect()(0)
      if (r.isNullAt(0)) null else r.getMap[String, String](0).toMap
    }
    // full-string matching: 'header1' does NOT match 'header1suffix'
    assert(prep("header1", "transform") === Map("header1" -> "v1"))
    // fail: an invalid MATCHED name vetoes the whole request (null)
    assert(prep("header1|bad:name", "fail") === null)
    // fail with the invalid name UNMATCHED: request proceeds
    assert(prep("header1", "fail") === Map("header1" -> "v1"))
    // drop: invalid matched names skipped
    assert(prep("header1|bad:name", "drop") === Map("header1" -> "v1"))
    // transform: invalid matched names rewritten
    assert(prep("header1|bad:name", "transform") ===
      Map("header1" -> "v1", "bad-name" -> "v3"))
    // no Attributes to Send → no headers at all
    val none = flowFrame(Seq(("", attrs)))
      .select(Exec.headerPrepUdf(None, "transform")(
        col(FlowFrame.Attributes)).as("h")).collect()(0)
      .getMap[String, String](0)
    assert(none.isEmpty)
  }

  test("PutSQL appends rows into a catalog table (PutSQL.h:34-44)") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS putsql_t")
    graft.ops.SqlOps.putSql(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), "putsql_t")
    graft.ops.SqlOps.putSql(Seq((3L, "c")).toDF("id", "v"), "putsql_t")
    val got = spark.table("putsql_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    spark.sql("DROP TABLE putsql_t")
  }

  test("FetchFile: per-row fetch, missing routes failure, completion " +
       "move/delete (FetchFile.cpp:118,159, FetchFile.h:34-41)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("fetch_spec")
    val moved = java.nio.file.Files.createTempDirectory("fetch_moved")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "alpha")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "beta")
    val paths = Seq(
      dir.resolve("a.txt").toString,
      dir.resolve("b.txt").toString,
      dir.resolve("missing.txt").toString).toDF("p")

    val del = graft.ops.Sources.fetchFile(paths, col("p"), completion = "delete")
      .select(col("p"), col("content").cast("string"), col("relationship"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(del.toSeq === Seq(("alpha", "success"), ("beta", "success"),
      (null, "failure")))
    // delete completion removed the fetched files
    assert(!dir.resolve("a.txt").toFile.exists())
    assert(!dir.resolve("b.txt").toFile.exists())

    java.nio.file.Files.writeString(dir.resolve("c.txt"), "gamma")
    val mv = graft.ops.Sources.fetchFile(
      Seq(dir.resolve("c.txt").toString).toDF("p"), col("p"),
      completion = "move", moveDestDir = moved.toString)
      .select(col("content").cast("string")).collect()
    assert(mv(0).getString(0) === "gamma")
    assert(!dir.resolve("c.txt").toFile.exists())
    assert(java.nio.file.Files.readString(moved.resolve("c.txt")) === "gamma")
  }

  test("FetchFile move conflict strategies: replace/rename/keep/fail " +
       "(FetchFileTests.cpp:152-227)") {
    import spark.implicits._
    import graft.ops.Sources
    def fixture(): (java.nio.file.Path, java.nio.file.Path) = {
      val src = java.nio.file.Files.createTempDirectory("fetch_mc_src")
      val dst = java.nio.file.Files.createTempDirectory("fetch_mc_dst")
      java.nio.file.Files.writeString(src.resolve("f.txt"), "new content")
      java.nio.file.Files.writeString(dst.resolve("f.txt"), "old content")
      (src, dst)
    }
    def run(src: java.nio.file.Path, dst: java.nio.file.Path,
            strat: String): (String, String) = {
      val r = Sources.fetchFile(
        Seq(src.resolve("f.txt").toString).toDF("p"), col("p"),
        completion = "move", moveDestDir = dst.toString, moveConflict = strat)
        .select(col("content").cast("string"), col("relationship"))
        .collect()(0)
      (r.getString(0), r.getString(1))
    }
    // Replace File: fetched content wins at the destination
    val (s1, d1) = fixture()
    assert(run(s1, d1, "Replace File") === ("new content", "success"))
    assert(java.nio.file.Files.readString(d1.resolve("f.txt")) === "new content")
    assert(!s1.resolve("f.txt").toFile.exists())
    // Rename: old content stays under the original name, the fetched file
    // lands under a fresh name
    val (s2, d2) = fixture()
    assert(run(s2, d2, "Rename") === ("new content", "success"))
    assert(java.nio.file.Files.readString(d2.resolve("f.txt")) === "old content")
    assert(d2.toFile.listFiles().length === 2)
    assert(!s2.resolve("f.txt").toFile.exists())
    // Keep Existing: fetched file dropped, destination untouched
    val (s3, d3) = fixture()
    assert(run(s3, d3, "Keep Existing") === ("new content", "success"))
    assert(java.nio.file.Files.readString(d3.resolve("f.txt")) === "old content")
    assert(d3.toFile.listFiles().length === 1)
    assert(!s3.resolve("f.txt").toFile.exists())
    // Fail: routes to failure, BOTH files untouched
    val (s4, d4) = fixture()
    assert(run(s4, d4, "Fail") === (null, "failure"))
    assert(java.nio.file.Files.readString(d4.resolve("f.txt")) === "old content")
    assert(java.nio.file.Files.readString(s4.resolve("f.txt")) === "new content")
  }

  test("Syslog dispatch: RFC5424 first, RFC3164 fallback, else invalid " +
       "(ListenSyslog.cpp:67,81)") {
    val df = spark.createDataFrame(Seq(
      Tuple1("<34>1 2026-08-12T22:14:15.003Z host app 1234 ID47 - hello"),
      Tuple1("<13>Feb  5 17:32:18 mymachine very.large payload"),
      Tuple1("nonsense"))).toDF("line")
    val parsed = Syslog.parseSyslog(df, col("line"))
      .select("syslog_format", "relationship", "syslog_hostname", "syslog_msg")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(parsed(0) === ("rfc5424", "success", "host", "hello"))
    assert(parsed(1) === ("rfc3164", "success", "mymachine", "very.large payload"))
    assert(parsed(2) === ((null, "invalid", null, null)))
  }

  test("Syslog RFC doc-example battery: exact priority/severity/facility, " +
       "structured data (single + multiple blocks, absent msg), nilvalue " +
       "fields (ListenSyslogTests.cpp:102-199)") {
    // (line, format, pri, sev, fac, ts, host, app, procid, msgid, sd, msg)
    val cases = Seq(
      ("<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - " +
         "'su root' failed for lonvick on /dev/pts/8",
       "rfc5424", "34", "2", "4", "2003-10-11T22:14:15.003Z",
       "mymachine.example.com", "su", "-", "ID47", "-",
       "'su root' failed for lonvick on /dev/pts/8"),
      ("<165>1 2003-08-24T05:14:15.000003-07:00 192.0.2.1 myproc 8710 - - " +
         "%% It's time to make the do-nuts.",
       "rfc5424", "165", "5", "20", "2003-08-24T05:14:15.000003-07:00",
       "192.0.2.1", "myproc", "8710", "-", "-",
       "%% It's time to make the do-nuts."),
      ("<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 " +
         "[exampleSDID@32473 iut=\"3\" eventSource=\"Application\" eventID=\"1011\"] " +
         "An application event log entry...",
       "rfc5424", "165", "5", "20", "2003-10-11T22:14:15.003Z",
       "mymachine.example.com", "evntslog", "-", "ID47",
       "[exampleSDID@32473 iut=\"3\" eventSource=\"Application\" eventID=\"1011\"]",
       "An application event log entry..."),
      // doc example 4: TWO adjacent SD blocks, NO message
      ("<165>1 2003-10-11T22:14:15.003Z mymachine.example.com evntslog - ID47 " +
         "[exampleSDID@32473 iut=\"3\" eventSource=\"Application\" eventID=\"1011\"]" +
         "[examplePriority@32473class=\"high\"]",
       "rfc5424", "165", "5", "20", "2003-10-11T22:14:15.003Z",
       "mymachine.example.com", "evntslog", "-", "ID47",
       "[exampleSDID@32473 iut=\"3\" eventSource=\"Application\" eventID=\"1011\"]" +
         "[examplePriority@32473class=\"high\"]",
       ""),
      ("<34>Oct 11 22:14:15 mymachine su: 'su root' failed for lonvick on /dev/pts/8",
       "rfc3164", "34", "2", "4", "Oct 11 22:14:15", "mymachine", null, null,
       null, null, "su: 'su root' failed for lonvick on /dev/pts/8"),
      ("<13>Feb 5 17:32:18 10.0.0.99 Use the BFG!",
       "rfc3164", "13", "5", "1", "Feb 5 17:32:18", "10.0.0.99", null, null,
       null, null, "Use the BFG!"),
      ("<0>Oct 22 10:52:12 scapegoat 1990 Oct 22 10:52:01 TZ-6 " +
         "scapegoat.dmz.example.org 10.1.2.3 sched[0]: That's All Folks!",
       "rfc3164", "0", "0", "0", "Oct 22 10:52:12", "scapegoat", null, null,
       null, null, "1990 Oct 22 10:52:01 TZ-6 scapegoat.dmz.example.org " +
         "10.1.2.3 sched[0]: That's All Folks!"),
      ("not syslog",
       null, null, null, null, null, null, null, null, null, null, null))
    val df = spark.createDataFrame(cases.map(c => Tuple1(c._1))).toDF("line")
    val got = Syslog.parseSyslog(df, col("line")).select(
      "line", "syslog_format", "syslog_priority", "syslog_severity",
      "syslog_facility", "syslog_timestamp", "syslog_hostname",
      "syslog_app_name", "syslog_procid", "syslog_msgid",
      "syslog_structured_data", "syslog_msg", "relationship")
      .collect().map(r => r.getString(0) -> r).toMap
    cases.foreach { c =>
      val r = got(c._1)
      def s(i: Int): String = if (r.isNullAt(i)) null else r.getString(i)
      assert(s(1) === c._2, s"format: ${c._1}")
      assert(s(2) === c._3, s"priority: ${c._1}")
      assert(s(3) === c._4, s"severity: ${c._1}")
      assert(s(4) === c._5, s"facility: ${c._1}")
      assert(s(5) === c._6, s"timestamp: ${c._1}")
      assert(s(6) === c._7, s"hostname: ${c._1}")
      assert(s(7) === c._8, s"app_name: ${c._1}")
      assert(s(8) === c._9, s"procid: ${c._1}")
      assert(s(9) === c._10, s"msgid: ${c._1}")
      assert(s(10) === c._11, s"structured_data: ${c._1}")
      assert(s(11) === c._12, s"msg: ${c._1}")
      assert(s(12) === (if (c._2 == null) "invalid" else "success"),
        s"relationship: ${c._1}")
    }
  }

  test("Syslog RFC5424 parse + invalid routing (ListenSyslog.h:42-46)") {
    val df = spark.createDataFrame(Seq(
      Tuple1("<34>1 2026-08-12T22:14:15.003Z host app 1234 ID47 - hello"),
      Tuple1("not syslog at all"))).toDF("line")
    val parsed = Syslog.parseRfc5424(df, col("line"))
    val rows = parsed.select("relationship", "syslog_hostname", "syslog_msg")
      .collect()
    assert(rows(0).getString(0) === "success")
    assert(rows(0).getString(1) === "host")
    assert(rows(0).getString(2) === "hello")
    assert(rows(1).getString(0) === "invalid")
    assert(rows(1).isNullAt(1))
  }

  test("Funnel union preserves all rows (UNION ALL, Funnel.cpp)") {
    val a = flowFrame(Seq(("a", Map[String, String]())))
    val b = flowFrame(Seq(("b", Map[String, String]()), ("c", Map[String, String]())))
    assert(Routing.funnel(Seq(a, b)).count() === 3)
  }

  test("HashContent matches reference algorithms (HashContent.cpp:57)") {
    val df = flowFrame(Seq(("abc", Map[String, String]())))
    val r = df.select(
      Transforms.hashContent(col("content"), "MD5"),
      Transforms.hashContent(col("content"), "SHA256")).collect().head
    assert(r.getString(0) === "900150983cd24fb0d6963f7d28e17f72")
    assert(r.getString(1) ===
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
  }

  test("ListingState dedup emits latest per name above watermark") {
    val df = spark.createDataFrame(Seq(
      ("f1", 100L, 1L), ("f1", 200L, 2L), ("f2", 50L, 3L), ("f2", 300L, 4L)))
      .toDF("name", "mtime", "id")
    val out = Sources.listNewEntries(df, col("name"), col("mtime"), col("id"),
      lit(60L))
    val got = out.select("name", "id").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSet === Set(("f1", 2L), ("f2", 4L)))
  }

  test("ListingState re-lists a second file arriving with the SAME mtime as " +
       "the watermark (ListingStateManager.cpp:28-31; ListFileTests.cpp " +
       "'If a second file with the same modification time shows up later')") {
    val df = spark.createDataFrame(Seq(
      ("file_one", 500L, 1L), ("file_two", 500L, 2L)))
      .toDF("name", "mtime", "id")
    // state after the first trigger: watermark 500, keys {file_one}
    val out = Sources.listNewEntries(df, col("name"), col("mtime"), col("id"),
      lit(500L), lastSeenKeys = Seq("file_one"))
      .select("name").collect().map(_.getString(0))
    assert(out.toSeq === Seq("file_two"))
    // with no keys recorded at the watermark, equal-mtime entries list
    val all = Sources.listNewEntries(df, col("name"), col("mtime"), col("id"),
      lit(500L)).count()
    assert(all === 2L)
  }

  // --- ListFile full listing battery (ListFileTests.cpp:104-277) ---

  private def listFileFixture(): (java.nio.file.Path, Long) = {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("listfile_spec")
    def put(rel: String, content: String, ageMs: Long): Unit = {
      val p = dir.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes)
      p.toFile.setLastModified(baseMs - ageMs)
    }
    lazy val baseMs = (System.currentTimeMillis() / 1000) * 1000
    put(".hidden_file.txt", "hidden", 0L)
    put("standard_file.log", "test", 0L)
    put("empty_file.txt", "", 3600L * 1000)
    put("first_subdir/sub_file_one.txt", "the", 2 * 3600L * 1000)
    put("second_subdir/sub_file_two.txt", "some_other_content", 3 * 3600L * 1000)
    (dir, baseMs)
  }

  test("ListFile default listing: recursive, hidden ignored, full attribute " +
       "set (ListFileTests.cpp:110-145)") {
    val (dir, now) = listFileFixture()
    val rows = Sources.listFileEntries(spark, dir.toString, nowMs = now)
      .collect().map(r => r.getAs[String]("filename") -> r).toMap
    assert(rows.keySet === Set("standard_file.log", "empty_file.txt",
      "sub_file_one.txt", "sub_file_two.txt"))
    // path: relative parent with trailing separator; "./" at top level
    assert(rows("standard_file.log").getAs[String]("path") === "./")
    assert(rows("empty_file.txt").getAs[String]("path") === "./")
    assert(rows("sub_file_one.txt").getAs[String]("path") === "first_subdir/")
    assert(rows("sub_file_two.txt").getAs[String]("path") === "second_subdir/")
    // absolute.path: parent dir with trailing separator
    assert(rows("sub_file_one.txt").getAs[String]("absolute_path") ===
      dir.resolve("first_subdir").toString + "/")
    assert(rows("standard_file.log").getAs[String]("absolute_path") ===
      dir.toString + "/")
    assert(rows("standard_file.log").getAs[Long]("file_size") === 4L)
    assert(rows("empty_file.txt").getAs[Long]("file_size") === 0L)
    // %Y-%m-%dT%H:%M:%SZ rendering of the mtime
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    assert(rows("empty_file.txt").getAs[String]("file_last_modified_time") ===
      fmt.format(java.time.Instant.ofEpochMilli(now - 3600L * 1000)))
    assert(rows("standard_file.log").getAs[String]("file_permissions")
      .matches("[rwx-]{9}"))
    assert(rows("standard_file.log").getAs[String]("file_owner").nonEmpty)
  }

  test("ListFile filters: recursion off, File Filter regex, Path Filter " +
       "regex incl. the '.' top-level match (ListFileTests.cpp:146-178)") {
    val (dir, now) = listFileFixture()
    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("filename").collect().map(_.getString(0)).toSet
    assert(names(Sources.listFileEntries(spark, dir.toString,
      recursive = false, nowMs = now)) ===
      Set("standard_file.log", "empty_file.txt"))
    assert(names(Sources.listFileEntries(spark, dir.toString,
      fileFilter = Some("stand\\w+\\.log"), nowMs = now)) ===
      Set("standard_file.log"))
    assert(names(Sources.listFileEntries(spark, dir.toString,
      pathFilter = Some("first.*"), nowMs = now)) === Set("sub_file_one.txt"))
    assert(names(Sources.listFileEntries(spark, dir.toString,
      pathFilter = Some("second.*|\\."), nowMs = now)) ===
      Set("standard_file.log", "empty_file.txt", "sub_file_two.txt"))
  }

  test("ListFile age/size bounds and hidden opt-in " +
       "(ListFileTests.cpp:180-227)") {
    val (dir, now) = listFileFixture()
    def names(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("filename").collect().map(_.getString(0)).toSet
    val min90 = Sources.listFileEntries(spark, dir.toString,
      minAgeMs = Some(90L * 60 * 1000), nowMs = now)
    assert(names(min90) === Set("sub_file_one.txt", "sub_file_two.txt"))
    val max90 = Sources.listFileEntries(spark, dir.toString,
      maxAgeMs = Some(90L * 60 * 1000), nowMs = now)
    assert(names(max90) === Set("standard_file.log", "empty_file.txt"))
    assert(names(Sources.listFileEntries(spark, dir.toString,
      minSize = Some(4L), nowMs = now)) ===
      Set("standard_file.log", "sub_file_two.txt"))
    assert(names(Sources.listFileEntries(spark, dir.toString,
      maxSize = Some(4L), nowMs = now)) ===
      Set("standard_file.log", "empty_file.txt", "sub_file_one.txt"))
    assert(names(Sources.listFileEntries(spark, dir.toString,
      ignoreHiddenFiles = false, nowMs = now)).contains(".hidden_file.txt"))
  }

  test("RunLlamaCppInference battery: message assembly, optional system " +
       "prompt, empty-input failure, output metrics " +
       "(RunLlamaCppInferenceTests.cpp:88-369)") {
    val q = "Question: What is the answer to life, the universe and everything?"
    // default parameters: system + user, input data prefixed
    assert(Exec.llamaMessages("42", q) === Some(Seq(
      Exec.LlamaMessage("system", Exec.LlamaDefaultSystemPrompt),
      Exec.LlamaMessage("user",
        s"Input data (or flow file content):\n42\n\n$q"))))
    // empty flow file: no input-data prefix (cpp:191)
    assert(Exec.llamaMessages("", q) === Some(Seq(
      Exec.LlamaMessage("system", Exec.LlamaDefaultSystemPrompt),
      Exec.LlamaMessage("user", q))))
    // system prompt optional (cpp:316)
    assert(Exec.llamaMessages("42", q, systemPrompt = "") === Some(Seq(
      Exec.LlamaMessage("user",
        s"Input data (or flow file content):\n42\n\n$q"))))
    // both empty → failure (cpp:298)
    assert(Exec.llamaMessages("", "", "") === None)

    // FlowFrame surface: success rows carry the metric attributes in the
    // reference's exact rendering; the empty row routes failure untouched
    val df = flowFrame(Seq(
      ("42", Map("keep" -> "yes")),
      ("", Map.empty[String, String])))
    val out = Exec.runLlamaInference(df, col(FlowFrame.Content),
      when(col(FlowFrame.Content).cast("string") === "42", q).otherwise(""))
      .select(col(FlowFrame.Content).cast("string"),
        col(FlowFrame.Relationship), col(FlowFrame.Attributes))
      .collect()
    val okRow = out.find(_.getString(1) == "success").get
    val okAttrs = okRow.getMap[String, String](2).toMap
    // r19: generation is REAL (TinyLlm deterministic transformer). The
    // metric plane carries deterministic proxies in the reference's exact
    // rendering: ttft = prompt token count (ms), tokens/sec = decode length
    val user = s"Input data (or flow file content):\n42\n\n$q"
    assert(okAttrs("llamacpp.time.to.first.token") === s"${user.length} ms")
    assert(okAttrs("llamacpp.tokens.per.second") === "8.00")
    assert(okRow.getString(0) ===
      TinyLlm.render(TinyLlm.generate(user)._1))
    assert(okRow.getString(0).matches("[a-p]{8}"))
    assert(okAttrs("keep") === "yes")
    val failRow = out.find(_.getString(1) == "failure").get
    assert(failRow.getString(0) === "")
    assert(!failRow.getMap[String, String](2).toMap
      .contains("llamacpp.tokens.per.second"))
  }

  test("FocusArchive round trip: focus extracts the entry, unfocus writes " +
       "the (modified) content back preserving the other entries and order " +
       "(FocusArchiveTests.cpp:64-140; UnfocusArchiveEntry.cpp)") {
    val df = spark.createDataFrame(Seq(Tuple1("x"))).toDF("x")
    val names = Seq("first", "middle", "last")
    val contents = Seq("Test file 1\n", "Test file 2\n", "Test file 3\n")
    val archive = Archive.zipPackMulti(
      array(names.map(lit(_)): _*),
      array(contents.map(c => lit(c.getBytes("UTF-8"))): _*))

    // identity round trip: unfocus with the focused content unchanged
    // reproduces the original archive bytes (fixed entry mtimes)
    val focused = Archive.zipFocus(archive, lit("middle"))
    val same = Archive.zipUnfocus(archive, lit("middle"), focused)
    val r1 = df.select(md5(archive), md5(same),
      focused.cast("string")).collect().head
    assert(r1.getString(2) === "Test file 2\n")
    assert(r1.getString(0) === r1.getString(1))

    // modified content writes back in place; siblings and order intact
    val modified = Archive.zipUnfocus(archive, lit("middle"),
      lit("EDITED\n".getBytes("UTF-8")))
    val r2 = df.select(
      Archive.zipEntries(modified),
      Archive.zipFocus(modified, lit("first")).cast("string"),
      Archive.zipFocus(modified, lit("middle")).cast("string"),
      Archive.zipFocus(modified, lit("last")).cast("string")).collect().head
    assert(r2.getSeq[String](0) === Seq("first", "middle", "last"))
    assert(r2.getString(1) === "Test file 1\n")
    assert(r2.getString(2) === "EDITED\n")
    assert(r2.getString(3) === "Test file 3\n")

    // unfocus of an absent entry is the error route (null)
    val absent = df.select(Archive.zipUnfocus(archive, lit("nope"),
      lit("x".getBytes("UTF-8")))).collect().head
    assert(absent.isNullAt(0))

    // the tar form carries the same contract (libarchive focus/unfocus is
    // format-agnostic in the reference)
    val tarArchive = Archive.tarPackMulti(
      array(names.map(lit(_)): _*),
      array(contents.map(c => lit(c.getBytes("UTF-8"))): _*))
    val tarMod = Archive.tarUnfocus(tarArchive, lit("middle"),
      lit("EDITED\n".getBytes("UTF-8")))
    val r3 = df.select(
      Archive.tarEntries(tarMod),
      Archive.tarFocus(tarMod, lit("middle")).cast("string"),
      Archive.tarFocus(tarMod, lit("last")).cast("string"),
      md5(tarArchive),
      md5(Archive.tarUnfocus(tarArchive, lit("middle"),
        Archive.tarFocus(tarArchive, lit("middle"))))).collect().head
    assert(r3.getSeq[String](0) === Seq("first", "middle", "last"))
    assert(r3.getString(1) === "EDITED\n")
    assert(r3.getString(2) === "Test file 3\n")
    assert(r3.getString(3) === r3.getString(4)) // identity round trip
  }

  test("ManipulateArchive battery: touch/copy/move/remove with and without " +
       "before/after ordering anchors, archive order and contents verified " +
       "(ManipulateArchiveTests.cpp:119-340)") {
    val df = spark.createDataFrame(Seq(Tuple1("x"))).toDF("x")
    // the battery's fixture: entries first/middle/last with known contents
    val names = Seq("first", "middle", "last")
    val contents = Seq("Test file 1\n", "Test file 2\n", "Test file 3\n")
    val archive = Archive.zipPackMulti(
      array(names.map(lit(_)): _*),
      array(contents.map(c => lit(c.getBytes("UTF-8"))): _*))
    // run one operation and return the resulting (name → content) in order
    def run(op: String, target: String, dest: String,
            before: String, after: String): (Seq[(String, String)], String) = {
      val e = Archive.zipManipulate(archive, lit(op), lit(target), lit(dest),
        lit(before), lit(after))
      val resultCol = e.getField("_1")
      val namesRow = df.select(Archive.zipEntries(resultCol).as("n"),
        e.getField("_2").as("rel")).collect().head
      val outNames = Option(namesRow.getSeq[String](0)).getOrElse(Seq.empty)
      val rel = namesRow.getString(1)
      val pairs = outNames.map { n =>
        val c = df.select(Archive.zipFocus(resultCol, lit(n))).collect()
          .head.getAs[Array[Byte]](0)
        n -> new String(c, "UTF-8")
      }
      (pairs, rel)
    }
    val (f1, f2, f3) = (contents(0), contents(1), contents(2))

    // unordered: touch appends an empty entry; copy appends the source's
    // content; move renames in place of an append; remove drops
    assert(run("touch", "", "modified", "", "") ===
      (Seq("first" -> f1, "middle" -> f2, "last" -> f3, "modified" -> ""),
        "success"))
    assert(run("copy", "first", "modified", "", "") ===
      (Seq("first" -> f1, "middle" -> f2, "last" -> f3, "modified" -> f1),
        "success"))
    assert(run("move", "first", "modified", "", "")._1.toMap ===
      Map("middle" -> f2, "last" -> f3, "modified" -> f1))
    assert(run("remove", "first", "", "", "") ===
      (Seq("middle" -> f2, "last" -> f3), "success"))

    // ordered (before middle): the new entry lands before the anchor
    assert(run("touch", "", "modified", "middle", "") ===
      (Seq("first" -> f1, "modified" -> "", "middle" -> f2, "last" -> f3),
        "success"))
    assert(run("copy", "first", "modified", "middle", "") ===
      (Seq("first" -> f1, "modified" -> f1, "middle" -> f2, "last" -> f3),
        "success"))
    assert(run("move", "first", "modified", "middle", "") ===
      (Seq("modified" -> f1, "middle" -> f2, "last" -> f3), "success"))

    // ordered (after middle): the new entry lands after the anchor
    assert(run("touch", "", "modified", "", "middle") ===
      (Seq("first" -> f1, "middle" -> f2, "modified" -> "", "last" -> f3),
        "success"))
    assert(run("copy", "first", "modified", "", "middle") ===
      (Seq("first" -> f1, "middle" -> f2, "modified" -> f1, "last" -> f3),
        "success"))
    assert(run("move", "first", "modified", "", "middle") ===
      (Seq("middle" -> f2, "modified" -> f1, "last" -> f3), "success"))
  }

  test("ManipulateArchive edge routing: existing destination fails, missing " +
       "anchor appends, touch collision fails (ManipulateArchive.cpp:96-190)") {
    val df = spark.createDataFrame(Seq(Tuple1("x"))).toDF("x")
    val archive = Archive.zipPackMulti(
      array(lit("a"), lit("b")),
      array(lit("pa").cast("binary"), lit("pb").cast("binary")))
    def run(op: String, target: String, dest: String,
            before: String, after: String): (Seq[String], String) = {
      val e = Archive.zipManipulate(archive, lit(op), lit(target), lit(dest),
        lit(before), lit(after))
      val r = df.select(Archive.zipEntries(e.getField("_1")).as("names"),
        e.getField("_2").as("rel")).collect().head
      (Option(r.getSeq[String](0)).getOrElse(Seq.empty), r.getString(1))
    }
    // copy onto an existing entry name → failure (reference refuses overwrite)
    assert(run("copy", "a", "b", "", "") === (Seq.empty, "failure"))
    // touch an existing name → failure for the same reason
    assert(run("touch", "", "a", "", "") === (Seq.empty, "failure"))
    // move with a nonexistent anchor → warn + append at end
    assert(run("move", "a", "c", "", "nope") === (Seq("b", "c"), "success"))
    // copy with no anchor appends
    assert(run("copy", "b", "c", "", "") === (Seq("a", "b", "c"), "success"))
  }

  test("ExtractText regex mode: repeating captures, match-major numbering " +
       "with/without group 0 (ExtractTextTests.cpp:125-190)") {
    val df = flowFrame(Seq(("Speed limit 130 | Speed limit 80", Map.empty[String, String])))
    def attrsOf(d: org.apache.spark.sql.DataFrame): Map[String, String] =
      d.select(col(FlowFrame.Attributes)).collect().head.getMap[String, String](0).toMap
    // Include capture group 0 (default)
    val withG0 = attrsOf(Transforms.extractTextRegex(df, col(FlowFrame.Content),
      Seq(("RegexAttr", "Speed limit ([0-9]+)")), repeating = true))
    assert(withG0("RegexAttr") === "Speed limit 130")
    assert(withG0("RegexAttr.0") === "Speed limit 130")
    assert(withG0("RegexAttr.1") === "130")
    assert(withG0("RegexAttr.2") === "Speed limit 80")
    assert(withG0("RegexAttr.3") === "80")
    // Do not include capture group 0
    val noG0 = attrsOf(Transforms.extractTextRegex(df, col(FlowFrame.Content),
      Seq(("RegexAttr", "Speed limit ([0-9]+)")), includeGroupZero = false,
      repeating = true))
    assert(noG0("RegexAttr") === "130")
    assert(noG0("RegexAttr.0") === "130")
    assert(noG0("RegexAttr.1") === "80")
    assert(!noG0.contains("RegexAttr.2"))
    // non-repeating: first match only
    val first = attrsOf(Transforms.extractTextRegex(df, col(FlowFrame.Content),
      Seq(("RegexAttr", "Speed limit ([0-9]+)")), includeGroupZero = false))
    assert(first("RegexAttr.0") === "130")
    assert(!first.contains("RegexAttr.1"))
    // large match truncates to MaxCaptureGroupLen (default 1024)
    val long = flowFrame(Seq(("Speed limit 80" + "." * 100000, Map.empty[String, String])))
    val big = attrsOf(Transforms.extractTextRegex(long, col(FlowFrame.Content),
      Seq(("RegexAttr", "Speed limit (.*)")), includeGroupZero = false))
    assert(big("RegexAttr.0").length === 1024)
    assert(big("RegexAttr.0").startsWith("80.."))
    // no match → no attributes set at all
    val none = attrsOf(Transforms.extractTextRegex(df, col(FlowFrame.Content),
      Seq(("Nope", "xyzzy([0-9]+)")), repeating = true))
    assert(!none.exists(_._1.startsWith("Nope")))
    // an invalid dynamic-property regex is skipped with an error; the
    // valid properties still capture (ExtractTextTests.cpp "InvalidRegex")
    val mixed = attrsOf(Transforms.extractTextRegex(df, col(FlowFrame.Content),
      Seq(("RegexAttr", "Speed limit ([0-9]+)"), ("InvalidRegex", "[Invalid)A(F)")),
      repeating = true))
    assert(mixed("RegexAttr") === "Speed limit 130")
    assert(!mixed.exists(_._1.startsWith("InvalidRegex")))
    // ALL patterns invalid → frame passes through unchanged
    val allBad = attrsOf(Transforms.extractTextRegex(df, col(FlowFrame.Content),
      Seq(("InvalidRegex", "[Invalid)A(F)"))))
    assert(allBad === Map.empty)
  }

  test("RetryFlowFile reuse modes: FailOnReuse → failure, WarnOnReuse " +
       "resets, same-uuid passes through (RetryFlowFile.cpp:54-71)") {
    val df = flowFrame(Seq(
      ("", Map("flowfile.retries" -> "2", "flowfile.retries.uuid" -> "other")),
      ("", Map("flowfile.retries" -> "2", "flowfile.retries.uuid" -> "me")),
      ("", Map("flowfile.retries" -> "5"))))
    def run(mode: Routing.ReuseMode): Seq[(String, String)] =
      Routing.retryFlowFile(df, "flowfile.retries", 3,
        processorUuid = Some("me"), reuseMode = mode)
        .select(col(FlowFrame.Relationship), FlowFrame.attr("flowfile.retries"))
        .collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    // FailOnReuse: foreign uuid → failure, count untouched
    assert(run(Routing.FailOnReuse) ===
      Seq(("failure", "2"), ("retry", "3"), ("retries_exceeded", "5")))
    // WarnOnReuse: foreign uuid resets to 0 → retry with count 1
    assert(run(Routing.WarnOnReuse) ===
      Seq(("retry", "1"), ("retry", "3"), ("retries_exceeded", "5")))
    // non-numeric without the fail flag resets to 0 → retry "1"
    val nn = flowFrame(Seq(("", Map("flowfile.retries" -> "oops"))))
    val r = Routing.retryFlowFile(nn, "flowfile.retries", 3)
      .select(col(FlowFrame.Relationship), FlowFrame.attr("flowfile.retries"))
      .collect().head
    assert((r.getString(0), r.getString(1)) === ("retry", "1"))
  }
}
