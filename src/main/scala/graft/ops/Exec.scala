package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.functions._
import graft.core.FlowFrame

/**
 * Process/script/HTTP execution operators — SURVEY §2.1/§2.2/§2.4.
 */
object Exec {

  /**
   * Command-line tokenizer mirroring the reference's argv assembly
   * (ExecuteProcess::readArgs, ExecuteProcess.cpp:69-80 — repeated
   * `stream >> std::quoted(word)`): words split on whitespace; a word
   * STARTING with a double quote reads through escaped quotes/backslashes
   * until the closing quote (or end of input); unquoted words keep every
   * character verbatim.
   */
  def tokenizeCommand(full: String): Seq[String] = {
    val args = Seq.newBuilder[String]
    var i = 0
    val n = full.length
    while (i < n) {
      while (i < n && full(i).isWhitespace) i += 1
      if (i < n) {
        val sb = new StringBuilder
        if (full(i) == '"') {
          i += 1
          var closed = false
          while (i < n && !closed) {
            full(i) match {
              // std::quoted: inside quotes the escape char is dropped and
              // the NEXT character kept unconditionally ("a\x" -> ax)
              case '\\' if i + 1 < n =>
                sb.append(full(i + 1)); i += 2
              case '"' => closed = true; i += 1
              case c => sb.append(c); i += 1
            }
          }
        } else {
          while (i < n && !full(i).isWhitespace) { sb.append(full(i)); i += 1 }
        }
        if (sb.nonEmpty) args += sb.toString
      }
    }
    args.result()
  }

  /**
   * Source-mode ExecuteProcess (the reference's shape — the processor has
   * no input; ExecuteProcessTests.cpp): run `command + arguments` once,
   * capture stdout (stderr folded in under Redirect Error Stream,
   * discarded otherwise), in the given working directory. No output → no
   * FlowFile (None). Control-plane: one process per trigger, driver-side.
   */
  def runProcessOnce(command: String, arguments: String = "",
                     workingDir: Option[String] = None,
                     redirectErrorStream: Boolean = false): Option[String] = {
    val argv = tokenizeCommand((command + " " + arguments).trim)
    if (argv.isEmpty) return None
    val pb = new ProcessBuilder(argv: _*)
    workingDir.foreach(d => pb.directory(new java.io.File(d)))
    if (redirectErrorStream) pb.redirectErrorStream(true)
    else pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    proc.getOutputStream.close()
    val out = new String(proc.getInputStream.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    proc.waitFor()
    if (out.isEmpty) None else Some(out)
  }

  /**
   * ExecuteProcess (extensions/execute-process/ExecuteProcess.cpp): run a
   * command per partition, stream rows through stdin, stdout lines become
   * output rows — the Spark shape is `mapPartitions` spawning one process
   * per partition (not per row), mirroring the reference's long-running
   * command mode. The command is a fixed argv (no shell interpolation).
   */
  def executeProcess(ds: Dataset[String], argv: Seq[String]): Dataset[String] = {
    implicit val enc: Encoder[String] = org.apache.spark.sql.Encoders.STRING
    ds.mapPartitions { rows =>
      if (!rows.hasNext) Iterator.empty
      else {
        val pb = new ProcessBuilder(argv: _*)
        // stderr must not backpressure the child: an undrained pipe fills at
        // ~64KB and deadlocks the partition task mid-write
        pb.redirectError(ProcessBuilder.Redirect.DISCARD)
        val proc = pb.start()
        val writer = new java.io.PrintWriter(proc.getOutputStream)
        val out = new java.util.concurrent.LinkedBlockingQueue[String]()
        val reader = new Thread(() => {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(proc.getInputStream))
          var line = br.readLine()
          while (line != null) { out.put(line); line = br.readLine() }
        })
        reader.start()
        rows.foreach(writer.println)
        writer.close()
        proc.waitFor()
        reader.join()
        val buf = new java.util.ArrayList[String]()
        out.drainTo(buf)
        scala.jdk.CollectionConverters.ListHasAsScala(buf).asScala.iterator
      }
    }
  }

  /**
   * ExecuteScript (extensions/script/ExecuteScript.h:51): the user-code
   * escape hatch — a typed map over the session's rows, the analog of the
   * script's get/transfer API. Catalyst can't optimize through it; use for
   * logic the declarative operators can't express.
   */
  def executeScript[T: Encoder](df: Dataset[Row], fn: Row => T): Dataset[T] =
    df.map(fn)

  /**
   * InvokeHTTP routing (InvokeHTTP.cpp:241,270): responses route by status
   * class — 2xx → success, 5xx → retry, 4xx → no_retry, unreachable/other
   * → failure. The routing decision is the relational capability; the
   * network call itself runs in `httpCallPartition` below.
   */
  def routeByStatus(statusCol: Column): Column =
    when(statusCol.between(200, 299), "success")
      .when(statusCol.between(500, 599), "retry")
      .when(statusCol.between(400, 499), "no_retry")
      .otherwise("failure")

  /**
   * InvokeHTTP "Attributes to Send" (InvokeHTTP.h attribute-to-header
   * regex): attributes whose names match become request headers — a pure
   * map_filter projection feeding the per-partition client below. The
   * reference matches the WHOLE name (utils::regexMatch, InvokeHTTP.cpp:219),
   * so the pattern is anchored, not searched.
   */
  def attributesToHeaders(attrsMap: Column, regex: String): Column =
    map_filter(attrsMap, (k, _) => k.rlike(graft.el.ElCompiler.anchor(regex)))

  /**
   * The network plane of InvokeHTTP: per-partition java.net.http client —
   * one client per partition, connections reused across rows (the
   * reference pools per processor). Returns (url, status) pairs; -1 for
   * unreachable. Not exercised in offline tests; the routing logic above
   * is the tested surface.
   */
  def httpCallPartition(urls: Dataset[String], timeoutMs: Long = 5000): Dataset[(String, Int)] = {
    implicit val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.scalaInt)
    urls.mapPartitions { rows =>
      val client = java.net.http.HttpClient.newBuilder()
        .connectTimeout(java.time.Duration.ofMillis(timeoutMs)).build()
      rows.map { url =>
        try {
          val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build()
          val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.discarding())
          (url, resp.statusCode())
        } catch { case _: Exception => (url, -1) }
      }
    }
  }

  /**
   * Per-row HTTP request for the flow runtime's InvokeHTTP
   * (InvokeHTTP.cpp:241,270): (url, body) → (status, response body);
   * status -1 on connect/timeout failure (the reference's `failure`
   * edge). GET when `method` is GET, else the body is sent. Marked
   * nondeterministic so the optimizer cannot duplicate the side-effecting
   * call (same policy as Sources.fetchFile); a shared lazy client per
   * executor keeps connection reuse without per-row setup.
   */
  /** RFC822 3.1.2 header-field-name validity (HTTPClient.cpp:503-510):
    * nonempty, printable ASCII 33..126, no colon. */
  def isValidHttpHeaderField(name: String): Boolean =
    name.nonEmpty && name.forall(c => c >= 33 && c <= 126 && c != ':')

  /** Invalid chars → '-', empty → the reference's sentinel name
    * (HTTPClient.cpp:513-524). */
  def replaceInvalidCharactersInHttpHeaderFieldName(name: String): String =
    if (name.isEmpty) "X-MiNiFi-Empty-Attribute-Name"
    else name.map(c => if (c >= 33 && c <= 126 && c != ':') c else '-')

  /** Control characters (< 32) removed from header bodies
    * (HTTPClient.cpp:526-530). */
  def removeInvalidCharactersFromHttpHeaderFieldBody(body: String): String =
    body.filter(_ >= 32)

  /**
   * InvokeHTTP "Attributes to Send" + "Invalid HTTP Header Field Handling
   * Strategy" (InvokeHTTP.cpp:213-239): attribute names matching the
   * regex as a FULL string become request headers; `fail` vetoes the
   * whole request when any matching name is invalid (null result →
   * failure routing), `drop` skips invalid names, `transform` rewrites
   * them; bodies always lose control characters. A udf over the
   * attribute map so the policy runs distributed, per FlowFile.
   */
  def headerPrepUdf(attributesToSend: Option[String], strategy: String)
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    val re = attributesToSend.map(_.r)
    udf { (attrs: Map[String, String]) =>
      re match {
        case None => Map.empty[String, String]
        case Some(rx) =>
          val matching = attrs.toSeq
            .filter { case (k, _) => rx.pattern.matcher(k).matches() }
          strategy.toLowerCase match {
            case "fail" =>
              if (matching.exists(kv => !isValidHttpHeaderField(kv._1))) null
              else matching.map { case (k, v) =>
                k -> removeInvalidCharactersFromHttpHeaderFieldBody(v) }.toMap
            case "drop" =>
              matching.filter(kv => isValidHttpHeaderField(kv._1))
                .map { case (k, v) =>
                  k -> removeInvalidCharactersFromHttpHeaderFieldBody(v) }.toMap
            case _ => // transform (the reference default)
              matching.map { case (k, v) =>
                replaceInvalidCharactersInHttpHeaderFieldName(k) ->
                  removeInvalidCharactersFromHttpHeaderFieldBody(v) }.toMap
          }
      }
    }
  }

  /** [[httpRequestUdf]] with a per-row header map third argument: a NULL
    * map means the header policy vetoed the request (strategy = fail) —
    * no network call, status -2 → failure routing. */
  def httpRequestHeadersUdf(method: String, timeoutMs: Long = 5000)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (url: String, body: String, hdrs: Map[String, String]) =>
      if (hdrs == null) (-2, "")
      else try {
        val client = Exec.sharedHttpClient
        var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofMillis(timeoutMs))
        hdrs.foreach { case (k, v) => b = b.header(k, v) }
        val req = (method.toUpperCase match {
          case "GET" => b.GET()
          case m => b.method(m, java.net.http.HttpRequest.BodyPublishers
            .ofString(if (body == null) "" else body))
        }).build()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch { case _: Exception => (-1, "") }
    }.asNondeterministic()

  def httpRequestUdf(method: String, timeoutMs: Long = 5000,
                     headers: Map[String, String] = Map.empty)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (url: String, body: String) =>
      try {
        val client = Exec.sharedHttpClient
        var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofMillis(timeoutMs))
        headers.foreach { case (k, v) => b = b.header(k, v) }
        val req = (method.toUpperCase match {
          case "GET" => b.GET()
          case m => b.method(m, java.net.http.HttpRequest.BodyPublishers
            .ofString(if (body == null) "" else body))
        }).build()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch { case _: Exception => (-1, "") }
    }.asNondeterministic()

  /** [[httpRequestUdf]] with a per-row Content-Type third argument (null =
    * no header) — PutSplunkHTTP resolves the type per FlowFile from the
    * Content Type property else the mime.type attribute
    * (PutSplunkHTTP.cpp getContentType). */
  def httpRequestTypedUdf(method: String, timeoutMs: Long = 5000,
                          headers: Map[String, String] = Map.empty)
      : org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (url: String, body: String, contentType: String) =>
      try {
        val client = Exec.sharedHttpClient
        var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
          .timeout(java.time.Duration.ofMillis(timeoutMs))
        headers.foreach { case (k, v) => b = b.header(k, v) }
        if (contentType != null && contentType.nonEmpty)
          b = b.header("Content-Type", contentType)
        val req = b.method(method.toUpperCase,
          java.net.http.HttpRequest.BodyPublishers
            .ofString(if (body == null) "" else body)).build()
        val resp = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        (resp.statusCode(), resp.body())
      } catch { case _: Exception => (-1, "") }
    }.asNondeterministic()

  @transient private lazy val sharedHttpClient: java.net.http.HttpClient =
    java.net.http.HttpClient.newHttpClient()

  /** One driver-side HTTP request — for control-plane calls a processor
    * makes once per trigger (e.g. the Splunk ack-status query), not per
    * row. Returns (status, body); (-1, "") on connect failure. */
  def httpRequestOnce(url: String, method: String, body: String,
                      headers: Map[String, String],
                      timeoutMs: Long = 5000): (Int, String) =
    try {
      var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofMillis(timeoutMs))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      val req = b.method(method.toUpperCase,
        java.net.http.HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = sharedHttpClient.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (resp.statusCode(), resp.body())
    } catch { case _: Exception => (-1, "") }

  /** The reference's built-in system prompt
    * (RunLlamaCppInference.h SystemPrompt default). */
  val LlamaDefaultSystemPrompt: String =
    "You are a helpful assistant. You are given a question with some " +
      "possible input data otherwise called flow file content. You are " +
      "expected to generate a response based on the question and the " +
      "input data."

  final case class LlamaMessage(role: String, content: String)

  /**
   * Chat-message assembly (RunLlamaCppInference.cpp:81-109); token
   * generation lives behind [[TinyLlm]] — a real deterministic forward
   * pass a llama.cpp binding would replace. Non-empty content prefixes the user
   * message with "Input data (or flow file content):\n<content>\n\n"; the
   * prompt follows; an empty system prompt drops the system message; an
   * empty user message is the failure route (None).
   */
  def llamaMessages(content: String, prompt: String,
                    systemPrompt: String = LlamaDefaultSystemPrompt)
      : Option[Seq[LlamaMessage]] = {
    val user =
      (if (content.nonEmpty) s"Input data (or flow file content):\n$content\n\n"
       else "") + prompt
    if (user.isEmpty) None
    else Some(
      (if (systemPrompt.nonEmpty) Seq(LlamaMessage("system", systemPrompt))
       else Seq.empty) :+ LlamaMessage("user", user))
  }

  /**
   * RunLlamaCppInference over a FlowFrame: assembles the user message in
   * codegen'd column space, routes empty prompt+content to `failure`
   * untouched (RunLlamaCppInference.cpp:98-103), and stamps the
   * reference's output metrics — `llamacpp.time.to.first.token` as
   * "<ms> ms" and `llamacpp.tokens.per.second` 2-decimal formatted
   * (RunLlamaCppInferenceTests.cpp:340-369). `generate` is the model at
   * the native boundary: ((messagesJson, userMessage) → (generated,
   * ttftMs, tokensPerSec)), invoked once per row inside a UDF exactly
   * where a llama.cpp binding would run; the default is [[TinyLlm]]'s
   * real deterministic forward pass + greedy decode (r19 — the repo's
   * last stub, retired).
   */
  def runLlamaInference(df: DataFrame, contentCol: Column, promptCol: Column,
                        systemPrompt: String = LlamaDefaultSystemPrompt,
                        generate: (String, String) => (String, Long, Double) =
                          TinyLlm.chatGenerate): DataFrame = {
    val user = concat(
      when(length(coalesce(contentCol.cast("string"), lit(""))) > 0,
        concat(lit("Input data (or flow file content):\n"),
          contentCol.cast("string"), lit("\n\n"))).otherwise(""),
      coalesce(promptCol, lit("")))
    val messagesJson = to_json(struct(
      lit(systemPrompt).as("system"), user.as("user")))
    // nondeterministic UDF: `generate` is a caller-supplied hook — a real
    // llama.cpp binding samples and reports wall timings, so Catalyst must
    // not dedupe, re-execute, or reorder the call (the TinyLlm default
    // happens to be deterministic, but the operator contract is the hook's).
    // The user message rides alongside the JSON so a pure-JVM model needn't
    // re-parse the envelope a native binding would consume.
    val gen = udf { (m: String, u: String) =>
      val (text, ttft, tps) = generate(m, u)
      // explicit ROOT locale: a comma-decimal default locale would render
      // "8,00" and break byte-exact oracle equality (r19 ADVICE)
      (text, s"$ttft ms",
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(tps)))
    }.asNondeterministic()
    val out = gen(messagesJson, user)
    df.withColumn("__llm", when(length(user) > 0, out))
      .withColumn(FlowFrame.Relationship,
        when(length(user) === 0, "failure").otherwise("success"))
      .withColumn(FlowFrame.Attributes,
        when(col(FlowFrame.Relationship) === "failure",
          col(FlowFrame.Attributes))
          .otherwise(map_concat(col(FlowFrame.Attributes),
            map(lit("llamacpp.time.to.first.token"), col("__llm._2"),
              lit("llamacpp.tokens.per.second"), col("__llm._3")))))
      .withColumn(FlowFrame.Content,
        when(col(FlowFrame.Relationship) === "failure",
          col(FlowFrame.Content)).otherwise(col("__llm._1")))
      .drop("__llm")
  }
}
