package graft.el

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.core.FlowFrame

/**
 * NiFi Expression Language → Catalyst Column compiler.
 *
 * Compiles the AST from [[ElAst]] into native Spark `Column` expressions so
 * every EL-enabled property participates in whole-stage codegen — no UDF in
 * the hot path except the HTML/XML/CSV escape family.
 *
 * Function inventory and semantics re-derived from the reference dispatch
 * table (libminifi/src/expression-language/Expression.cpp:1369-1533) and the
 * per-function implementations cited inline below. Attribute reads
 * (`${attr}`) resolve against the FlowFrame `attributes` map column
 * (Expression.cpp:94 make_dynamic_attr) unless a custom resolver is given —
 * operators over plain tables pass `name => col(name)` so EL expressions
 * compile straight onto relational columns and Catalyst can push them down.
 *
 * Compilation happens once at plan-build time, mirroring the reference's
 * one-shot EL compile at schedule time (ProcessContextImpl.cpp getProperty).
 */
object ElCompiler {

  type AttrResolver = String => Column

  /** Variable registry — the reference's minifi.properties-backed plane
    * (ExpressionLanguageInDynamicPropertiesTests.cpp:42
    * `${'nifi.my.own.property'}`): an EL name reference resolves the
    * FlowFile attribute first and falls back to the registry constant.
    * Thread-local and scoped: [[withVariables]] binds it for the duration
    * of one flow's plan build, so concurrent flow builds on one driver
    * don't race and nothing leaks into EL compiled outside a flow run.
    * The resolved value embeds as a literal; executors never see the map. */
  private val variableRegistry =
    new scala.util.DynamicVariable[Map[String, String]](Map.empty)

  /** Bind the variable registry for `body` (plan-build scope). */
  def withVariables[A](variables: Map[String, String])(body: => A): A =
    variableRegistry.withValue(variables)(body)

  /** Registry map from a minifi.properties-style map:
    * `minifi.variable.registry.blacklist` names (comma-separated) are
    * invisible to EL (VariableRegistryImpl; ExpressionLanguageTests.cpp
    * "variable registry test": blacklisted `foo` resolves empty). */
  def registryFromProperties(props: Map[String, String]): Map[String, String] = {
    val blacklist = props.getOrElse("minifi.variable.registry.blacklist", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    (props - "minifi.variable.registry.blacklist")
      .filter { case (k, _) => !blacklist(k) }
  }

  /** Default resolver: FlowFrame attributes map (null when absent),
    * with the variable registry as the absent-attribute fallback. */
  val flowAttrs: AttrResolver = name => {
    val attr = element_at(col(FlowFrame.Attributes), name)
    variableRegistry.value.get(name)
      .map(v => coalesce(attr, lit(v))).getOrElse(attr)
  }

  /** Compile a full property value (text + embedded expressions) to a string
    * Column. Multiple parts concatenate, like the reference's expression
    * composition over text chunks. */
  def template(input: String, attrs: AttrResolver = flowAttrs): Column = {
    val t = ElAst.parse(input)
    if (t.isSingleExpr) compileNode(t.parts.head.toOption.get, attrs)
    else concat(t.parts.map {
      case Left(text) => lit(text)
      case Right(node) => coalesce(compileNode(node, attrs).cast("string"), lit(""))
    }: _*)
  }

  /** Compile to a boolean predicate (RouteOnAttribute property semantics,
    * RouteOnAttribute.cpp:50 — non-boolean results are false). */
  def predicate(input: String, attrs: AttrResolver = flowAttrs): Column =
    coalesce(template(input, attrs).cast("boolean"), lit(false))

  // ---------------------------------------------------------------------------

  private def compileNode(node: ElAst.Node, attrs: AttrResolver): Column = node match {
    case ElAst.AttrRef(name) => attrs(name)
    case ElAst.StrLit(v)     => lit(v)
    case n @ ElAst.NumLit(text) =>
      if (n.isIntegral) lit(text.toLong) else lit(text.toDouble)
    case ElAst.BoolLit(v)    => lit(v)
    case c: ElAst.Call       => compileCall(None, c, attrs)
    case ElAst.Chain(subject, calls) => compileChain(subject, calls, attrs)
  }

  private val quantifiers = Set(
    "allAttributes", "anyAttribute", "allMatchingAttributes",
    "anyMatchingAttribute", "allDelineatedValues", "anyDelineatedValue")

  private def compileChain(subject: ElAst.Node, calls: Seq[ElAst.Call],
                           attrs: AttrResolver): Column = subject match {
    // Multi-attribute / delineated-value quantifiers (Expression.cpp:1051-1311):
    // the call chain maps over each candidate value; the quantifier (or a
    // terminal count()/join()) combines the per-value results.
    case ElAst.Call(q, qargs) if quantifiers.contains(q) =>
      val values: Column = q match {
        case "allAttributes" | "anyAttribute" =>
          array(qargs.map(a => attrs(asString(a))): _*)
        case "allMatchingAttributes" | "anyMatchingAttribute" =>
          // whole-name match, not search (utils::regexMatch, Expression.cpp:1172)
          map_values(map_filter(col(FlowFrame.Attributes),
            (k, _) => k.rlike(anchor(asString(qargs.head)))))
        case _ => // all/anyDelineatedValue(subject, delimiter)
          split(compileNode(qargs.head, attrs).cast("string"),
            java.util.regex.Pattern.quote(asString(qargs(1))))
      }
      val isAll = q.startsWith("all")
      // count()/join() reduce the per-value results to ONE value anywhere in
      // the chain; calls AFTER them apply to that scalar (Expression.cpp
      // Join 2 test: join("|"):prepend(..):append(..) chains past the join)
      val termIdx = calls.indexWhere(c => c.name == "count" || c.name == "join")
      val mapCalls = if (termIdx >= 0) calls.take(termIdx) else calls
      def applyChain(v: Column): Column =
        mapCalls.foldLeft(v)((acc, c) => compileCall(Some(acc), c, attrs))
      val reduced = if (termIdx < 0) {
        // all() over an EMPTY candidate set is false, not vacuously true
        // (ExpressionLanguageTests.cpp:1488 "All Matching Contains 2":
        // a name pattern matching no attribute fails the all())
        if (isAll) (coalesce(size(values), lit(0)) > 0) &&
          forall(values, v => coalesce(applyChain(v).cast("boolean"), lit(false)))
        else exists(values, v => coalesce(applyChain(v).cast("boolean"), lit(false)))
      } else calls(termIdx).name match {
        case "count" => size(filter(values, v => coalesce(applyChain(v).cast("boolean"), lit(false)))).cast("long")
        case _ =>
          val d = asString(calls(termIdx).args.head)
          array_join(transform(values, v => applyChain(v).cast("string")), d)
      }
      if (termIdx < 0) reduced
      else calls.drop(termIdx + 1)
        .foldLeft(reduced)((acc, c) => compileCall(Some(acc), c, attrs))
    case _ =>
      calls.foldLeft(compileNode(subject, attrs))((acc, c) => compileCall(Some(acc), c, attrs))
  }

  private def asString(n: ElAst.Node): String = n match {
    case ElAst.StrLit(v) => v
    case ElAst.NumLit(t) => t
    case ElAst.AttrRef(v) => v // bare word used as literal arg
    case other => throw new IllegalArgumentException(s"expected literal, got $other")
  }

  /** Anchored full-match for `matches` and the matching-attribute
    * quantifiers (std::regex_match, Expression.cpp:800,1172). */
  private[graft] def anchor(pat: String): String = "^(?:" + pat + ")$"

  /** When an EL string is exactly one bare attribute reference
    * (`${attr.name}`), return the attribute name — processors whose
    * property is "an attribute or a literal" (Document Id, Target node ID)
    * use this to decide per-row vs uniform resolution. */
  private[graft] def soleAttributeRef(el: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("""^\$\{([^${}:]+)\}$""").matcher(el.trim)
    if (m.matches()) Some(m.group(1).trim) else None
  }

  // Escape family UDFs (Expression.cpp:446-727). Full HTML 3/4 entity
  // tables + XML 5-entity set live in HtmlEntities (simultaneous-replace
  // semantics of utils::string::replaceMap, StringUtils.cpp:197-219).
  private def nullSafe(f: String => String) =
    udf((s: String) => if (s == null) null else f(s))
  private val escapeHtml3Udf = nullSafe(HtmlEntities.escapeHtml3)
  private val escapeHtml4Udf = nullSafe(HtmlEntities.escapeHtml4)
  private val unescapeHtml3Udf = nullSafe(HtmlEntities.unescapeHtml3)
  private val unescapeHtml4Udf = nullSafe(HtmlEntities.unescapeHtml4)
  private val escapeXmlUdf = nullSafe(HtmlEntities.escapeXml)
  private val unescapeXmlUdf = nullSafe(HtmlEntities.unescapeXml)

  /** expr_toRadix (Expression.cpp:865-901): digits come from the
    * `while (value) { chars[abs(value % radix)]; value /= radix; }` loop,
    * so value 0 yields NO digits — the result is the bare zero-padding
    * ("" unpadded); the sign sits OUTSIDE the padding ("-000004a1",
    * ExpressionLanguageTests.cpp:627-633); and the value is never negated
    * whole, so LLONG_MIN renders correctly (r18 — the former conv()+abs
    * shape returned "0" for 0 and overflowed on Long.MinValue). */
  private val toRadixUdf = udf { (v: java.lang.Long, radix: Int, pad: Int) =>
    // the reference throws runtime_error for radix outside [2,36]
    // (Expression.cpp:869-871) → null per the EL error convention; without
    // the guard Character.forDigit returns ' ' out of range and the
    // UDF would silently emit NUL-filled garbage (r18 ADVICE)
    if (v == null || radix < 2 || radix > 36) null
    else {
      val sign = if (v < 0) "-" else ""
      val sb = new StringBuilder
      var x = v.longValue
      while (x != 0) {
        sb.append(Character.forDigit(math.abs((x % radix).toInt), radix))
        x /= radix
      }
      val digits = sb.reverse.toString
      sign + ("0" * math.max(0, pad - digits.length)) + digits
    }
  }

  /** expr_fromRadix = std::stoll(s, nullptr, radix)
    * (Expression.cpp:903-911): leading whitespace, optional sign, an
    * optional 0x/0X prefix when radix is 16, then the longest
    * valid-digit prefix ("12z" → 12). NO digits → the reference throws
    * invalid_argument; out of int64 range → out_of_range — both are
    * null here, the EL error convention (r18 — the former conv() shape
    * silently wrapped overflow mod 2⁶⁴ and read "0x" as 0). */
  private val fromRadixUdf = udf { (s: String, radix: Int) =>
    // same [2,36] guard as toRadix (Expression.cpp:905-907) — explicit,
    // not relying on Character.digit happening to reject every char
    if (s == null || radix < 2 || radix > 36) null
    else {
      var i = 0
      while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
      var neg = false
      if (i < s.length && (s.charAt(i) == '+' || s.charAt(i) == '-')) {
        neg = s.charAt(i) == '-'; i += 1
      }
      if (radix == 16 && i + 2 < s.length && s.charAt(i) == '0' &&
          (s.charAt(i + 1) == 'x' || s.charAt(i + 1) == 'X') &&
          Character.digit(s.charAt(i + 2), 16) >= 0) i += 2
      var acc = BigInt(0)
      var n = 0
      while (i < s.length && Character.digit(s.charAt(i), radix) >= 0) {
        acc = acc * radix + Character.digit(s.charAt(i), radix)
        n += 1; i += 1
      }
      if (n == 0) null
      else {
        val v = if (neg) -acc else acc
        if (v < BigInt(Long.MinValue) || v > BigInt(Long.MaxValue)) null
        else java.lang.Long.valueOf(v.toLong)
      }
    }
  }
  private val escapeCsvUdf = udf((s: String) =>
    if (s == null) null
    else if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s)
  private val unescapeCsvUdf = udf((s: String) =>
    if (s == null) null
    else if (s.length >= 2 && s.head == '"' && s.last == '"') {
      // only unquote a field that NEEDED quoting — an interior quote or a
      // \r/\n/comma; a merely-quoted plain value stays quoted
      // (expr_unescapeCsv, Expression.cpp: quote_required check;
      // ExpressionLanguageTests.cpp:1128 Decode CSV 2)
      val quoteRequired = s.indexOf('"', 1) != s.length - 1 ||
        s.exists(c => c == '\r' || c == '\n' || c == ',')
      if (quoteRequired) s.substring(1, s.length - 1).replace("\"\"", "\"")
      else s
    } else s)

  /** getDelimitedField (Expression.cpp:269-380): quote-aware field scan —
    * delimiters inside quoted regions don't split, even in the basic form;
    * the optional 5th arg strips quote/escape chars from the result.
    * Reference quirk preserved (Expression.cpp:309-326): the escape char
    * emits ITSELF (when not stripping) and then the following char is
    * processed with full special meaning — there is no `continue` after
    * the escape branch in the reference, so `\,` still splits the field
    * and `\"` still toggles the quote state. */
  private val getDelimitedFieldUdf =
    udf((s: String, index: Int, delim: String, quote: String, esc: String,
         strip: Boolean) => {
      if (s == null) null
      else {
        // an explicit EMPTY arg is asString()[0] on an empty std::string,
        // which is charT() = NUL (Expression.cpp:274-286) — delimiter '\0'
        // means the field never splits, quote '\0' never opens a region;
        // the ','/'"'/'\\' defaults apply only when the arg is ABSENT
        // (handled at the call site, which passes the default text)
        val d = if (delim.nonEmpty) delim.charAt(0) else '\u0000'
        val q = if (quote.nonEmpty) quote.charAt(0) else '\u0000'
        val e = if (esc.nonEmpty) esc.charAt(0) else '\u0000'
        val n = s.length
        var field = 1
        var inQuote = false
        val buf = new StringBuilder
        var i = 0
        while (i < n && field <= index) {
          var c = s.charAt(i)
          var have = true
          if (c == e) {
            if (!strip && field == index) buf.append(e)
            i += 1
            if (i < n) c = s.charAt(i) else have = false
          }
          if (have) {
            // per-state branch order matches the reference switch: in
            // `value` the delimiter test precedes the quote test
            if (!inQuote) {
              if (c == d) field += 1
              else if (c == q) {
                inQuote = true
                if (!strip && field == index) buf.append(q)
              } else if (field == index) buf.append(c)
            } else {
              if (c == q) {
                inQuote = false
                if (!strip && field == index) buf.append(q)
              } else if (field == index) buf.append(c)
            }
          }
          i += 1
        }
        buf.toString
      }
    })

  /** One postfix call: `subject:fn(args)` → Column. `subject` is None for
    * subjectless functions opening an expression. */
  private def compileCall(subjectOpt: Option[Column], call: ElAst.Call,
                          attrs: AttrResolver): Column = {
    val ElAst.Call(name, rawArgs) = call
    lazy val args: Seq[Column] = rawArgs.map(compileNode(_, attrs))
    def subj: Column = subjectOpt.getOrElse(
      throw new IllegalArgumentException(s"EL function '$name' needs a subject"))
    def s0: Column = subj.cast("string")
    def a(i: Int): Column = args(i)
    def sArg(i: Int): String = asString(rawArgs(i))
    // try_cast everywhere attribute data coerces to a number: the
    // reference throws per-FlowFile on garbage ("banana1337"), but an ANSI
    // cast would poison the whole task at scale — null is the EL error
    // convention here (predicates read it as false)
    def num(c: Column): Column = c.try_cast("double")
    /** Comparison coercion (Expression.cpp:993-1040 expr_gt..expr_le over
      * Value.h:48-131, mined from the GT4 battery
      * ExpressionLanguageTests.cpp:843-879): BOTH sides decimal-SYNTAX
      * (contains '.', 'e' or 'E' — Value.h isDecimal) → long-double
      * compare; otherwise BOTH sides compare as int64 with stoll
      * semantics — leading numeric prefix, truncation toward zero
      * ("13.37" → 13), empty string → 0 (strParse's default). The int64
      * path is exact above 2⁵³, where the former all-double compare
      * silently tied distinct integers. Two documented deviations from
      * the reference's throws (both established by earlier rounds and
      * pinned in ElSpec): genuinely unparsable values are null-not-throw
      * (predicates read false, no poisoned task), and out-of-int64/
      * quad-range NUMERIC text falls back to double magnitude instead
      * of out_of_range (2⁶⁴ stays a huge positive). */
    def asLongEl(c: Column): Column =
      when(c === "", lit(0L))
        .otherwise(regexp_extract(c, "^\\s*([+-]?\\d+)", 1).try_cast("long"))
    /** expr_format's subject coercion is asUnsignedLong = std::stoull
      * prefix semantics (Expression.cpp:639 over Value.h:89-100, r19
      * mining): "" → strParse's 0 default (epoch 1970), "123abc" → 123,
      * no digits → invalid_argument (null here). stoull quirks replayed
      * exactly: a '-' sign is ACCEPTED and the value wraps mod 2⁶⁴, then
      * the milliseconds construction narrows uint64→int64 (a second
      * wrap) — so "-1" double-wraps to epoch -1 ms and
      * "18446744073709551615" lands there too; digit magnitudes past
      * 2⁶⁴-1 are std::out_of_range → null. Implemented as a DECIMAL(38)
      * two's-complement fold so the wrap corner is exact, not UDF'd. */
    def asEpochEl(c: Column): Column = {
      val two64 = lit(new java.math.BigDecimal("18446744073709551616"))
        .cast("decimal(38,0)")
      val two63 = lit(new java.math.BigDecimal("9223372036854775808"))
        .cast("decimal(38,0)")
      val dec = regexp_extract(c, "^\\s*([+-]?\\d+)", 1)
        .try_cast("decimal(38,0)")
      val m = pmod(dec, two64)
      val signed = when(m >= two63, m - two64).otherwise(m)
      when(c === "", lit(0L))
        .otherwise(when(dec.isNotNull && abs(dec) <= two64 - lit(1),
          signed.cast("long")).otherwise(lit(null).cast("long")))
    }
    def elCmp(op: (Column, Column) => Column)(l: Column, r: Column): Column = {
      val ls = l.cast("string"); val rs = r.cast("string")
      val bothDec = ls.rlike("[.eE]") && rs.rlike("[.eE]")
      val (ll, rl) = (asLongEl(ls), asLongEl(rs))
      when(bothDec, op(when(ls === "", lit(0.0)).otherwise(num(ls)),
        when(rs === "", lit(0.0)).otherwise(num(rs))))
        .when(ll.isNotNull && rl.isNotNull, op(ll, rl))
        .otherwise(op(num(ls), num(rs)))  // int64 overflow → magnitude
    }
    /** stold prefix semantics for the long-double paths (Value.h:117-128
      * asLongDouble over strParse): longest float prefix after optional
      * whitespace/sign ("11.5x" → 11.5), empty string → the 0.0 default;
      * no parsable prefix throws in the reference (caught to an empty
      * result) — null here renders the same. */
    def asDoubleEl(c: Column): Column =
      when(c === "", lit(0.0))
        .otherwise(regexp_extract(c,
          "^\\s*([+-]?(?:\\d+\\.?\\d*|\\.\\d+)(?:[eE][+-]?\\d+)?)", 1)
          .try_cast("double"))
    /** Reference double→string (Value.h:66-84): fixed 15 decimals, then
      * trailing zeros and a bare trailing dot stripped — "10000011" not
      * "1.0000011E7", "-2.24567" not "-2.245670000000000". Null-guarded:
      * format_string would render a null operand as the literal "null"
      * (java.util.Formatter), where the reference's caught-throw empty
      * result must stay null/empty (r18). */
    def doubleToElString(c: Column): Column =
      when(c.isNotNull,
        // C++ ostream spellings for the non-finite values the long-double
        // path can produce (divide by zero → ±inf, 0/0 → nan; Value.h's
        // fixed<<setprecision stream prints these as inf/-inf/nan, where
        // format_string would print Infinity/NaN)
        when(c === Double.PositiveInfinity, lit("inf"))
          .when(c === Double.NegativeInfinity, lit("-inf"))
          .when(isnan(c), lit("nan"))
          .otherwise(
            regexp_replace(format_string("%.15f", c), "\\.?0+$", "")))
    /** NiFi arithmetic coercion (expr_binary_op, Expression.cpp:833-863):
      * the int64 path runs iff NEITHER side carries decimal SYNTAX
      * ('.', 'e', 'E' — Value.h isDecimal, the same test the r17
      * comparison work replays) and each side parses with stoll prefix
      * semantics — "11abc":plus(2) is 13 and "":plus(5) is 5, not null
      * (r18; the former both-fully-integral test silently demoted junk-
      * suffixed and empty operands to the null-producing double cast).
      * Anything else goes long double with stold prefix semantics. */
    def intPreserving(l: Column, r: Column, op: (Column, Column) => Column): Column = {
      val ls = l.cast("string"); val rs = r.cast("string")
      val anyDec = ls.rlike("[.eE]") || rs.rlike("[.eE]")
      val (ll, rl) = (asLongEl(ls), asLongEl(rs))
      when(!anyDec && ll.isNotNull && rl.isNotNull,
        op(ll, rl).cast("string"))
        .otherwise(doubleToElString(op(asDoubleEl(ls), asDoubleEl(rs))))
    }

    name match {
      // --- subjectless (Expression.cpp:123-211, 952, 1038-1046) ---
      case "literal"  => a(0)
      case "hostname" => lit(java.net.InetAddress.getLocalHost.getHostName)
      case "ip"       => lit(java.net.InetAddress.getLocalHost.getHostAddress)
      case "UUID"     => FlowFrame.newUuid
      // epoch MILLIS, the EL date value convention (${now():toNumber()}
      // is milliseconds; format() takes a millis subject) — a raw
      // TIMESTAMP would cast to epoch SECONDS and format() would read it
      // as millis (caught by the Now Date battery: format('%Y') -> 1970)
      case "now"      => unix_millis(FlowFrame.entryTime)
      case "random"   => (rand() * lit(Long.MaxValue)).cast("long")
      case "nextInt"  => monotonically_increasing_id()
      // reverseDnsLookup(ip[, timeoutMs]) (Expression.cpp:191-207): resolver
      // UDF, nondeterministic (network state); empty string on failure like
      // the reference's timed-out/failed lookup path
      case "reverseDnsLookup" =>
        val look = udf { ip: String =>
          try Option(ip).map(java.net.InetAddress.getByName(_).getCanonicalHostName)
            .getOrElse("")
          catch { case _: Exception => "" }
        }.asNondeterministic()
        look(a(0).cast("string"))
      // resolve_user_id(uid) (Expression.cpp:111-121): numeric uid →
      // username via the OS user database; empty/absent arg passes
      // through. The JVM has no getpwuid, so consult /etc/passwd — the
      // same store the reference's OsUtils reads on POSIX; unresolvable
      // ids pass through unchanged, like userIdToUsername's fallback.
      case "resolve_user_id" =>
        val resolve = udf { uid: String =>
          if (uid == null || uid.isEmpty) uid
          else scala.util.Try {
            scala.io.Source.fromFile("/etc/passwd").getLines()
              .map(_.split(":", -1))
              .collectFirst { case f if f.length > 2 && f(2) == uid => f(0) }
          }.toOption.flatten.getOrElse(uid)
        }.asNondeterministic()
        if (args.isEmpty) lit("") else resolve(a(0).cast("string"))

      // --- string case/trim/len (Expression.cpp:215-227, 814, 828) ---
      case "toUpper" => upper(s0)
      case "toLower" => lower(s0)
      case "trim"    => trim(s0)
      case "length"  => length(s0).cast("long")

      // substring(offset[, count]) — 0-based, count chars (Expression.cpp:227)
      case "substring" =>
        // r19 mining (expr_substring, Expression.cpp:226-235): offset and
        // count coerce via asUnsignedLong = stoull PREFIX semantics
        // ("2junk" → 2, "" → strParse's 0 default, a '-' wraps mod 2⁶⁴ to
        // a huge offset), and std::string::substr THROWS out_of_range when
        // offset > length → null, where a raw cast would ANSI-poison the
        // task on junk and Spark's substring would silently clamp. A
        // wrapped value ≥ 2⁶³ surfaces from asEpochEl as negative — always
        // > length, so the offOk guard handles it; a huge COUNT clamps
        // (substr's count never throws).
        val off = asEpochEl(a(0).cast("string"))
        val offOk = off.isNotNull && off >= 0 && off <= length(s0).cast("long")
        if (args.size == 1)
          when(offOk, substring(s0, off.cast("int") + lit(1), lit(Int.MaxValue)))
        else {
          val cnt = asEpochEl(a(1).cast("string"))
          val cnt32 = when(cnt < 0 || cnt > Int.MaxValue, lit(Int.MaxValue))
            .otherwise(cnt.cast("int"))
          when(offOk && cnt.isNotNull,
            substring(s0, off.cast("int") + lit(1), cnt32))
        }
      // before/after first/last occurrence (Expression.cpp:238-266)
      case "substringBefore" => substring_index(s0, sArg(0), 1)
      case "substringAfter" =>
        val d = sArg(0)
        when(instr(s0, d) > 0,
          expr_substr_from(s0, instr(s0, d) + lit(d.length))).otherwise(lit(""))
      case "substringBeforeLast" =>
        val d = sArg(0)
        when(instr(s0, d) > 0,
          substring(s0, lit(1),
            length(s0) - length(substring_index(s0, d, -1)) - lit(d.length)))
          .otherwise(lit(""))
      case "substringAfterLast" =>
        val d = sArg(0)
        when(instr(s0, d) > 0, substring_index(s0, d, -1)).otherwise(lit(""))
      case "getDelimitedField" =>
        val delim = if (rawArgs.size > 1) sArg(1) else ","
        val quote = if (rawArgs.size > 2) sArg(2) else "\""
        val esc = if (rawArgs.size > 3) sArg(3) else "\\"
        // strip_chars is asBoolean = utils::string::toBool: trimmed,
        // case-insensitive "true" (StringUtils.cpp:27-35), not an exact
        // string compare
        val strip = rawArgs.size > 4 &&
          asString(rawArgs(4)).trim.equalsIgnoreCase("true")
        // index coercion is asUnsignedLong() - 1 (Expression.cpp:271 over
        // Value.h:89-100 stoull prefix): "" → strParse's 0 default, "2junk"
        // → 2, '-' wraps mod 2⁶⁴; the -1 then wraps AGAIN for 0, so ""/"0"
        // (and any wrapped negative) become a uint64 index no real field
        // count reaches — replayed by passing 0 to the 1-based UDF, since a
        // JVM string holds < 2³¹ chars and so < 2³¹+1 fields. No-digit junk
        // is strParse invalid_argument (throw → null here); asEpochEl's
        // DECIMAL(38) fold carries the exact wrapped bit pattern, keeping
        // this off the raw-ANSI-cast task-poisoning path.
        val idxU = asEpochEl(a(0).cast("string"))
        val idx1 = when(idxU.between(1L, Int.MaxValue.toLong),
          idxU.cast("int")).otherwise(lit(0))
        getDelimitedFieldUdf(s0, when(idxU.isNotNull, idx1), lit(delim),
          lit(quote), lit(esc), lit(strip))

      // --- predicates (Expression.cpp:389-428, 800-814, 956-1034) ---
      case "startsWith" => s0.startsWith(a(0).cast("string"))
      case "endsWith"   => s0.endsWith(a(0).cast("string"))
      case "contains"   => s0.contains(a(0).cast("string"))
      case "in"         => s0.isin(args.map(_.cast("string")): _*)
      case "indexOf"    => (instr(s0, sArg(0)) - lit(1)).cast("long")
      case "lastIndexOf" =>
        val d = sArg(0)
        when(instr(s0, d) > 0,
          (length(s0) - lit(d.length) - instr(reverse(s0), d.reverse) + lit(1)).cast("long"))
          .otherwise(lit(-1L))
      case "matches" => s0.rlike(anchor(sArg(0)))
      case "find"    => s0.rlike(sArg(0))
      case "isNull"  => subj.isNull
      case "notNull" => subj.isNotNull
      case "isEmpty" => subj.isNull || trim(s0) === lit("")
      case "equals"  => s0 === a(0).cast("string")
      case "equalsIgnoreCase" => lower(s0) === lower(a(0).cast("string"))
      case "gt" => elCmp(_ > _)(subj, a(0))
      case "ge" => elCmp(_ >= _)(subj, a(0))
      case "lt" => elCmp(_ < _)(subj, a(0))
      case "le" => elCmp(_ <= _)(subj, a(0))
      case "and" => subj.cast("boolean") && a(0).cast("boolean")
      case "or"  => subj.cast("boolean") || a(0).cast("boolean")
      case "not" => !subj.cast("boolean")
      case "ifElse" => when(subj.cast("boolean"), a(0)).otherwise(a(1))

      // --- replace family (Expression.cpp:755-798) ---
      case "replace"      => replace(s0, a(0).cast("string"), a(1).cast("string"))
      case "replaceFirst" =>
        regexp_replace(s0, "(?s)\\A(?:(.*?))" + sArg(0), "$1" + sArg(1))
      case "replaceAll"   => regexp_replace(s0, sArg(0), sArg(1))
      case "replaceNull"  => coalesce(s0, a(0).cast("string"))
      // "empty" = whitespace-only in the space/\n/\r/\t set exactly
      // (expr_replaceEmpty regex "^[ \n\r\t]*$", Expression.cpp:793-798);
      // Spark's trim() strips only ' ', so an rlike is the faithful test
      case "replaceEmpty" =>
        when(subj.isNull || s0.rlike("^[ \\n\\r\\t]*$"), a(0).cast("string")).otherwise(s0)

      // --- concat (Expression.cpp:818-823) ---
      case "append"  => concat(s0, a(0).cast("string"))
      case "prepend" => concat(a(0).cast("string"), s0)

      // --- math (Expression.cpp:845-913) — reference coerces int64 when
      // both operands are integral, long double otherwise (Value.h
      // asNumber): "11":minus(13) is "-2", never "-2.0". divide always
      // yields a decimal, like the reference.
      // try_* ops (r18): under ANSI (Spark 4's default) a plain +/-/*/%
      // THROWS on int64 overflow or mod-by-zero — ONE weird attribute row
      // would poison the whole task at scale. The reference's behavior
      // there is C++ UB (signed wrap / SIGFPE); the engine's documented
      // error convention is null, which try_add/subtract/multiply/mod
      // deliver per-row at codegen speed (on the double path they are
      // the plain ops — doubles saturate to inf, never throw).
      case "plus"     => intPreserving(subj, a(0), try_add)
      case "minus"    => intPreserving(subj, a(0), try_subtract)
      case "multiply" => intPreserving(subj, a(0), try_multiply)
      case "mod"      =>
        // int path: mod-by-zero is C++ SIGFPE in the reference — the
        // null convention applies (try_mod). Decimal path: std::fmod's
        // IEEE contract is fmod(x, 0) = NaN, which try_mod would null —
        // branch it to the NaN doubleToElString spells "nan".
        val ls = s0; val rs = a(0).cast("string")
        val anyDec = ls.rlike("[.eE]") || rs.rlike("[.eE]")
        val (ll, rl) = (asLongEl(ls), asLongEl(rs))
        val (ld, rd) = (asDoubleEl(ls), asDoubleEl(rs))
        when(!anyDec && ll.isNotNull && rl.isNotNull,
          try_mod(ll, rl).cast("string"))
          .otherwise(doubleToElString(
            when(rd === 0.0 && ld.isNotNull, lit(Double.NaN))
              .otherwise(try_mod(ld, rd))))
      // divide is long_only in the reference (expr_divide passes
      // long_only=true) — ALWAYS long double, with stold prefix
      // semantics. IEEE saturation is explicit (r18): under Spark's ANSI
      // default even DOUBLE division by zero throws, where the
      // reference's long double yields ±inf (and 0/0 → nan) — branch the
      // zero divisor to the IEEE values doubleToElString spells
      // inf/-inf/nan like the reference's stream.
      case "divide"   =>
        val denSrc = a(0).cast("string")
        val num = asDoubleEl(s0)
        val den = asDoubleEl(denSrc)
        // Spark SQL's `den === 0.0` matches -0.0 too, and IEEE x/±0 takes
        // its sign from BOTH operands — recover the divisor's sign from
        // the stold source prefix (optional whitespace then '-'), so
        // "5":divide("-0.0") is -inf like the reference's long-double
        // division (r18 ADVICE)
        val denNeg = denSrc.rlike("^\\s*-")
        val infSameSign = when(denNeg, lit(Double.NegativeInfinity))
          .otherwise(lit(Double.PositiveInfinity))
        val infFlipSign = when(denNeg, lit(Double.PositiveInfinity))
          .otherwise(lit(Double.NegativeInfinity))
        doubleToElString(
          when(den === 0.0 && num.isNotNull,
            when(num > 0, infSameSign)
              .when(num < 0, infFlipSign)
              .otherwise(lit(Double.NaN)))
            .otherwise(try_divide(num, den)))
      case "toRadix"  =>
        // toRadixUdf replays the reference digit loop exactly: value 0 →
        // NO digits (bare padding, "" unpadded), sign outside the pad
        // ("-000004a1"), LLONG_MIN-safe; the subject coerces with
        // asSignedLong's stoll prefix semantics like every numeric arg
        toRadixUdf(asLongEl(s0), lit(sArg(0).toInt),
          lit(if (rawArgs.size > 1) sArg(1).toInt else 0))
      case "fromRadix" =>
        // std::stoll semantics incl. 0x prefix at radix 16, longest-
        // prefix parse, and null (the reference throws) on no-digits or
        // int64 overflow — see fromRadixUdf
        fromRadixUdf(s0, lit(sArg(0).toInt))
      case "toNumber"  => subj.try_cast("long")
      case "toDecimal" => subj.try_cast("double")
      case "toString"  => s0

      // --- encode/decode (Expression.cpp:446-751) ---
      case "urlEncode" =>
        // curl_easy_escape semantics (Expression.cpp:708-725): RFC 3986 —
        // every byte outside [A-Za-z0-9-._~] percent-encoded, space as %20
        // never '+'. java.net.URLEncoder (Spark url_encode) diverges on
        // exactly three characters (space→'+', '*' kept, '~' encoded);
        // each is unambiguous in the encoded text, so fix up post-encode.
        replace(replace(replace(url_encode(s0),
          lit("+"), lit("%20")), lit("*"), lit("%2A")), lit("%7E"), lit("~"))
      case "urlDecode" =>
        // curl_easy_unescape decodes %XX only — a literal '+' stays '+'
        // (java.net.URLDecoder would turn it into a space); shield it.
        url_decode(replace(s0, lit("+"), lit("%2B")))
      case "base64Encode" => base64(encode(s0, "UTF-8"))
      case "base64Decode" => decode(unbase64(s0), "UTF-8")
      case "escapeJson"   =>
        // JSON string-escape without the surrounding quotes (Expression.cpp:446)
        expr_strip_quotes(to_json(struct(s0.as("v"))))
      case "unescapeJson" => get_json_object(concat(lit("{\"v\":\""), s0, lit("\"}")), "$.v")
      case "escapeXml"    => escapeXmlUdf(s0)
      case "unescapeXml"  => unescapeXmlUdf(s0)
      case "escapeHtml3"   => escapeHtml3Udf(s0)
      case "escapeHtml4"   => escapeHtml4Udf(s0)
      case "unescapeHtml3" => unescapeHtml3Udf(s0)
      case "unescapeHtml4" => unescapeHtml4Udf(s0)
      case "escapeCsv"    => escapeCsvUdf(s0)
      case "unescapeCsv"  => unescapeCsvUdf(s0)

      // --- date/time (Expression.cpp:636-674; optional tz arg per
      // ExpressionLanguageTests.cpp:1283-1291). Patterns in either
      // dialect: C strftime (the reference's spelling — any '%' present)
      // is translated to JVM DateTimeFormatter; '%'-free patterns pass
      // through as JVM. ---
      case "format" => // subject: epoch millis → formatted string
        if (needsStrftimeUdf(sArg(0))) {
          // specifiers Spark's datetime dialect cannot express: the
          // week-based letters %G/%g/%V/%u THROW at runtime since Spark 3
          // (probed: SparkUpgradeException), %U/%W/%C/%w/%s have no JVM
          // pattern letter at all, and %e must SPACE-pad like C strftime
          // — render those driver-faithfully via java.time (C/POSIX
          // locale names, ISO week fields), everything common stays on
          // the codegen'd date_format fast path below
          val fmtS = sArg(0)
          val zoneS = if (rawArgs.size > 1) sArg(1) else "UTC"
          val f = udf { (ms: java.lang.Long) =>
            if (ms == null) null
            else strftimeRender(java.time.Instant.ofEpochMilli(ms)
              .atZone(java.time.ZoneId.of(zoneS)), fmtS)
          }
          f(asEpochEl(s0))
        } else {
          // subject coercion is stoull-prefix (asEpochEl, r19): "123abc"
          // formats epoch 123, "" formats epoch 0 — try_cast would null both
          val ts = timestamp_millis(asEpochEl(s0))
          val zoned = if (rawArgs.size > 1) from_utc_timestamp(ts, sArg(1)) else ts
          date_format(zoned, datePattern(sArg(0), forFormat = true))
        }
      case "toDate" if rawArgs.isEmpty => // RFC3339 parse (no-arg form)
        // utils::timeutils::parseRfc3339 replayed exactly (TimeUtil.cpp:
        // 85-115, r20): "%F" 1-4/1-2/1-2-digit date fields + one of
        // "tT_ " + "%T" time with 1-2-digit fields and an optional ≤9-ns
        // fraction (round-to-ns then TRUNCATE to ms), then either the
        // Z/z suffix or a %Ez offset (1-2-digit hours, optional ':mm' —
        // hour-only "+05" is valid, colonless "+0530" is NOT). The
        // reference throws on invalid input — here it yields null, the
        // EL error convention upstream predicates already treat as false.
        val rfc = udf { (in: String) =>
          if (in == null) null else ElFromStream.rfc3339Ms(in)
        }
        rfc(s0)
      case "toDate" => // string → epoch millis
        val fmtS = sArg(0)
        if (fmtS.contains('%')) {
          // the reference's spelling: Howard-Hinnant from_stream, whose
          // read-side contract no JVM pattern can replay (1-2-digit
          // fields, POSIX %y pivot, 0+-whitespace format spaces, literal
          // invalid-modifier matching, ymd-required / trailing-junk-
          // rejected / trailing-NUL-accepted stream state) — route to the
          // faithful parser (ElFromStream.scaladoc for the full table)
          val f = udf { (in: String) =>
            if (in == null) null else ElFromStream.toDateMs(in, fmtS)
          }
          val ms = f(s0)
          if (rawArgs.size > 1)
            unix_millis(to_utc_timestamp(timestamp_millis(ms), sArg(1)))
          else ms
        } else {
          // JVM-dialect pattern ('%'-free): Spark's own parser IS the
          // contract here. try_to_timestamp, not to_timestamp (r18): the
          // raw form throws on unparseable input under ANSI — one garbage
          // attribute row must null (the documented throw→null
          // convention), never poison the task
          val parsed = call_function("try_to_timestamp", s0, lit(fmtS))
          val utc = if (rawArgs.size > 1) to_utc_timestamp(parsed, sArg(1)) else parsed
          unix_millis(utc)
        }

      case other =>
        throw new IllegalArgumentException(s"unsupported EL function '$other'")
    }
  }

  /** Date pattern in either dialect: '%' marks the reference's C strftime
    * spelling (Expression.cpp format/toDate use Howard-Hinnant date parse/
    * format flags) — translate it to the JVM DateTimeFormatter dialect;
    * anything else is already a JVM pattern. Literal letters in an
    * strftime pattern (the 'Z' of '%H:%M:%SZ') must be single-quoted, or
    * the JVM would read them as pattern letters. %S carries milliseconds
    * (the reference's millisecond-precision time_point prints/parses the
    * fraction), hence ss.SSS. */
  private[graft] def datePattern(fmt: String, forFormat: Boolean = false): String =
    if (!fmt.contains('%')) fmt
    else strftimeToJvm(fmt, offsetColonLower = forFormat)

  /** strftime specifiers the Spark date_format dialect cannot express:
    * %G/%g/%V/%u are week-based letters Spark rejects at runtime,
    * %U/%W/%C/%w/%s/%c/%x/%X/%D/%r have no (C-faithful) pattern letter,
    * %e needs C's SPACE padding, and %z/%Z/%Ez need the REAL zone — the
    * fast path's from_utc_timestamp shifts the wall clock but leaves the
    * session zone, so offset specifiers would print +0000 for every tz.
    * Patterns carrying any of them render via [[strftimeRender]]. */
  private val StrftimeUdfSpecs = "GgVuUWCwscxXDrezZ".toSet
  private[graft] def needsStrftimeUdf(fmt: String): Boolean = {
    var i = 0
    while (i < fmt.length - 1) {
      if (fmt.charAt(i) == '%') {
        val c = fmt.charAt(i + 1)
        // ANY %E/%O-modified command routes to the renderer (r19): the
        // modifier table (which combos are valid, which fall back to the
        // C-locale facet, which print as literals) lives there —
        // date.h:5129-5400 to_stream modifier dispatch
        if (c == 'E' || c == 'O') return true
        else if (StrftimeUdfSpecs(c)) return true
        else i += 2
      } else i += 1
    }
    false
  }

  /** C-strftime renderer for the specifiers Spark cannot express —
    * C/POSIX-locale English names, ISO week fields, millisecond %S (the
    * reference formats millisecond-precision time_points natively in
    * date.h's own %S/%T paths).
    *
    * Modifier semantics replay date lib v3.0.x `to_stream`
    * (date.h:5129-5400, the reference's vendored formatter, r19 mining):
    * only specific %E/%O combos are VALID — %E{c,C,x,X,y,Y,z} and
    * %O{d,e,H,I,m,M,S,u,U,V,w,W,y,z}; every other modified command
    * prints as the LITERAL text "%<mod><spec>" (date.h never falls back
    * to the unmodified form the way glibc does). Valid combos forward to
    * the std::time_put facet of the global locale — the C locale at
    * minifi runtime — whose alternate-era/digit tables are empty, so
    * they render like the unmodified command WITH ONE EXCEPTION CLASS:
    * the facet formats a whole-second `struct tm`, so %OS (and the
    * facet-routed %c/%Ec/%X/%EX/%r) print WHOLE seconds while the
    * native %S/%T paths keep the millisecond fraction. %Ez/%Oz insert
    * the ':' into the offset (date.h z-case: `modified != CharT{}`). */
  private[graft] def strftimeRender(zdt: java.time.ZonedDateTime,
                                    fmt: String): String = {
    import java.time.temporal.{ChronoField, WeekFields}
    import java.util.Locale
    val iso = WeekFields.ISO
    def p2(n: Long) = f"$n%02d"
    val sb = new StringBuilder
    var i = 0
    def secMs: String =
      f"${zdt.getSecond}%02d.${zdt.get(ChronoField.MILLI_OF_SECOND)}%03d"
    // valid modified commands, date.h:5129-5400 (everything else is
    // literal passthrough, including %E on d/e/H/I/m/M/S/u/U/V/w/W and
    // %O on c/C/x/X/Y/Z/a/b/...)
    val eAllowed = Set('c', 'C', 'x', 'X', 'y', 'Y', 'z')
    val oAllowed =
      Set('d', 'e', 'H', 'I', 'm', 'M', 'S', 'u', 'U', 'V', 'w', 'W', 'y', 'z')
    def emit(spec: Char, mod: Char): Unit = {
      if (mod != 0 &&
          !(mod == 'E' && eAllowed(spec)) && !(mod == 'O' && oAllowed(spec))) {
        sb.append('%').append(mod).append(spec); return
      }
      spec match {
        case '%' => sb.append('%')
        case 'a' => sb.append(zdt.getDayOfWeek.getDisplayName(
          java.time.format.TextStyle.SHORT, Locale.US))
        case 'A' => sb.append(zdt.getDayOfWeek.getDisplayName(
          java.time.format.TextStyle.FULL, Locale.US))
        case 'b' | 'h' => sb.append(zdt.getMonth.getDisplayName(
          java.time.format.TextStyle.SHORT, Locale.US))
        case 'B' => sb.append(zdt.getMonth.getDisplayName(
          java.time.format.TextStyle.FULL, Locale.US))
        // %c/%Ec go through the facet: C-locale d_t_fmt
        // "%a %b %e %H:%M:%S %Y" over a WHOLE-SECOND tm — no fraction
        // (date.h:5129-5160; r19 fix: the former recursive render
        // carried the %S millisecond fraction into %c)
        case 'c' => sb.append(strftimeRender(zdt, "%a %b %e ") +
          f"${zdt.getHour}%02d:${zdt.getMinute}%02d:${zdt.getSecond}%02d" +
          s" ${zdt.getYear}")
        case 'C' => sb.append(p2(zdt.getYear / 100))
        case 'd' => sb.append(p2(zdt.getDayOfMonth))
        case 'e' => sb.append(f"${zdt.getDayOfMonth}%2d")
        case 'D' => sb.append(strftimeRender(zdt, "%m/%d/%y"))
        case 'F' => sb.append(
          f"${zdt.getYear}%04d-${zdt.getMonthValue}%02d-${zdt.getDayOfMonth}%02d")
        case 'g' => sb.append(p2(zdt.get(iso.weekBasedYear()) % 100))
        case 'G' => sb.append(zdt.get(iso.weekBasedYear()).toString)
        case 'H' => sb.append(p2(zdt.getHour))
        case 'I' => sb.append(p2(((zdt.getHour + 11) % 12) + 1))
        case 'j' => sb.append(f"${zdt.getDayOfYear}%03d")
        case 'm' => sb.append(p2(zdt.getMonthValue))
        case 'M' => sb.append(p2(zdt.getMinute))
        case 'n' => sb.append('\n')
        case 'p' => sb.append(if (zdt.getHour < 12) "AM" else "PM")
        // facet-routed in locale mode: C-locale t_fmt_ampm
        // "%I:%M:%S %p", whole seconds (r19 fix, was fractional)
        case 'r' => sb.append(
          f"${((zdt.getHour + 11) % 12) + 1}%02d:${zdt.getMinute}%02d:" +
          f"${zdt.getSecond}%02d " + (if (zdt.getHour < 12) "AM" else "PM"))
        case 'R' => sb.append(f"${zdt.getHour}%02d:${zdt.getMinute}%02d")
        case 's' => sb.append(zdt.toInstant.getEpochSecond.toString)
        // %S native = fractional for ms-precision points; %OS = facet =
        // whole seconds (date.h S-case O-branch builds a tm)
        case 'S' =>
          if (mod == 'O') sb.append(p2(zdt.getSecond)) else sb.append(secMs)
        case 'T' => sb.append(f"${zdt.getHour}%02d:${zdt.getMinute}%02d:" + secMs)
        case 't' => sb.append('\t')
        case 'u' => sb.append(zdt.get(iso.dayOfWeek()).toString)
        case 'U' =>
          val wdaySun0 = zdt.getDayOfWeek.getValue % 7
          sb.append(p2((zdt.getDayOfYear - 1 + 7 - wdaySun0) / 7))
        case 'V' => sb.append(p2(zdt.get(iso.weekOfWeekBasedYear())))
        case 'w' => sb.append((zdt.getDayOfWeek.getValue % 7).toString)
        case 'W' =>
          val wdayMon0 = zdt.getDayOfWeek.getValue - 1
          sb.append(p2((zdt.getDayOfYear - 1 + 7 - wdayMon0) / 7))
        case 'x' => sb.append(strftimeRender(zdt, "%m/%d/%y"))
        // facet-routed: C-locale t_fmt "%H:%M:%S", whole seconds
        // (r19 fix, was fractional)
        case 'X' => sb.append(
          f"${zdt.getHour}%02d:${zdt.getMinute}%02d:${zdt.getSecond}%02d")
        case 'y' => sb.append(p2(zdt.getYear % 100))
        case 'Y' => sb.append(zdt.getYear.toString)
        case 'z' =>
          val off = zdt.getOffset.getTotalSeconds
          val s = if (off < 0) "-" else "+"
          val a = math.abs(off)
          if (mod != 0) sb.append(f"$s${a / 3600}%02d:${(a % 3600) / 60}%02d")
          else sb.append(f"$s${a / 3600}%02d${(a % 3600) / 60}%02d")
        // %Z prints the zone ABBREVIATION carried by the zoned time
        // (date.h Z-case streams *abbrev), not the IANA id (r19 fix)
        case 'Z' => sb.append(java.util.TimeZone.getTimeZone(zdt.getZone)
          .getDisplayName(
            zdt.getZone.getRules.isDaylightSavings(zdt.toInstant),
            java.util.TimeZone.SHORT, Locale.US))
        case other =>
          sb.append('%'); if (mod != 0) sb.append(mod); sb.append(other)
      }
    }
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        val nxt = fmt.charAt(i + 1)
        if ((nxt == 'E' || nxt == 'O') && i + 2 < fmt.length) {
          val spec = fmt.charAt(i + 2)
          // a second modifier is itself invalid: date.h prints the
          // literal "%<m1><m2>" and the trailing char falls through raw
          if (spec == 'E' || spec == 'O') {
            sb.append('%').append(nxt).append(spec); i += 3
          } else { emit(spec, nxt); i += 3 }
        } else if (nxt == 'E' || nxt == 'O') {
          // dangling "%E" at end of pattern: date.h flushes "%" + mod
          sb.append('%').append(nxt); i += 2
        } else { emit(nxt, 0.toChar); i += 2 }
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  private[graft] def strftimeToJvm(fmt: String,
                                   offsetColonLower: Boolean = false): String = {
    val map = Map(
      'Y' -> "yyyy", 'y' -> "yy", 'm' -> "MM", 'd' -> "dd", 'e' -> "d",
      'H' -> "HH", 'I' -> "hh", 'M' -> "mm",
      'S' -> "ss.SSS", 'j' -> "DDD",
      'a' -> "EEE", 'A' -> "EEEE", 'b' -> "MMM", 'B' -> "MMMM", 'p' -> "a",
      // %T ≡ %H:%M:%S, so it carries the same millisecond fraction as %S
      // (Parse Date's '%FT%T%Ez' consumes "03:49:55.190",
      // ExpressionLanguageTests.cpp:1183-1187)
      'z' -> "Z", 'F' -> "yyyy-MM-dd",
      'T' -> "HH:mm:ss.SSS",
      'R' -> "HH:mm",
      // %n/%t emit the control char itself (to_stream date.h:5524,5689);
      // a raw non-letter passes through a JVM pattern unquoted
      'n' -> "\n", 't' -> "\t",
      'G' -> "YYYY", 'V' -> "ww", 'u' -> "e")
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        fmt.charAt(i + 1) match {
          case '%' => sb.append('%'); i += 2
          case 'E' if i + 2 < fmt.length && fmt.charAt(i + 2) == 'z' =>
            // %Ez = ±hh:mm offset. Parse side accepts 'Z' too (XXX);
            // format side must print "+00:00" like C, never 'Z' (xxx)
            sb.append(if (offsetColonLower) "xxx" else "XXX"); i += 3
          case c if map.contains(c) => sb.append(map(c)); i += 2
          case c =>
            // unknown command renders as the LITERAL "%<c>" — to_stream's
            // default prints '%' then the char (date.h:6105-6117; a
            // digit also clears the command, so "%4Y" is all literal).
            // '%' is not a JVM pattern letter, only the letter needs
            // quoting.
            sb.append('%')
            if (c.isLetter) sb.append('\'').append(c).append('\'')
            else sb.append(c)
            i += 2
        }
      } else if (ch.isLetter) {  // literal letter → quote for the JVM
        val j = fmt.indexWhere(c => !c.isLetter || c == '%', i) match {
          case -1 => fmt.length
          case k  => k
        }
        sb.append('\'').append(fmt.substring(i, j)).append('\'')
        i = j
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** substr(pos → end): Spark substring with dynamic start, to end of string. */
  private def expr_strip_quotes(jsonStr: Column): Column = {
    // to_json(struct(v)) → {"v":"<escaped>"} — strip the wrapper
    val inner = regexp_replace(jsonStr, "^\\{\"v\":\"", "")
    regexp_replace(inner, "\"\\}$", "")
  }

  private def expr_substr_from(s: Column, pos1: Column): Column =
    substring(s, pos1.cast("int"), lit(Int.MaxValue))
}
