package graft.el

/**
 * NiFi Expression Language — AST + hand-written recursive-descent parser.
 *
 * Grammar re-derived from the reference's bison grammar
 * (libminifi/include/expression-language/Parser.yy:99+) and the public NiFi
 * EL specification. An EL-enabled property value is free text with embedded
 * expressions:
 *
 *   text   := (chunk | '$$' | '${' expr '}')*
 *   expr   := subject (':' call)*
 *   subject:= attrName | 'quoted attr' | fn '(' args ')'     (subjectless fns:
 *             literal, hostname, ip, UUID, now, random, nextInt,
 *             allAttributes, anyAttribute, allMatchingAttributes, ...)
 *   call   := fn '(' args? ')'
 *   arg    := 'str' | "str" | number | true | false | '${' expr '}'
 *
 * This file is pure syntax; compilation to Catalyst Columns is in
 * ElCompiler.scala.
 */
object ElAst {

  sealed trait Node
  /** `${attr}` — reads an attribute (Expression.cpp:94 make_dynamic_attr). */
  final case class AttrRef(name: String) extends Node
  final case class StrLit(value: String) extends Node
  final case class NumLit(text: String) extends Node {
    def isIntegral: Boolean = !text.exists(c => c == '.' || c == 'e' || c == 'E')
  }
  final case class BoolLit(value: Boolean) extends Node
  /** An embedded whole expression used as an argument. */
  final case class Call(name: String, args: Seq[Node]) extends Node
  /** subject with a postfix chain: `${x:f():g(1)}` (make_function_composition). */
  final case class Chain(subject: Node, calls: Seq[Call]) extends Node
  /** Top-level property value: literal text interleaved with expressions. */
  final case class Template(parts: Seq[Either[String, Node]]) {
    def isSingleExpr: Boolean = parts.size == 1 && parts.head.isRight
  }

  def parse(input: String): Template = new Parser(input).parseTemplate()

  final class ElParseException(msg: String, val pos: Int)
    extends RuntimeException(s"$msg at position $pos")

  private final class Parser(s: String) {
    private var i = 0
    private def fail(msg: String) = throw new ElParseException(msg, i)
    private def peek: Char = if (i < s.length) s.charAt(i) else '\u0000'
    private def peek2: Char = if (i + 1 < s.length) s.charAt(i + 1) else '\u0000'
    private def eat(c: Char): Unit =
      if (peek == c) i += 1 else fail(s"expected '$c' but found '$peek'")
    private def ws(): Unit = while (i < s.length && s.charAt(i).isWhitespace) i += 1

    def parseTemplate(): Template = {
      val parts = Seq.newBuilder[Either[String, Node]]
      val buf = new StringBuilder
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '$' && peek2 == '$') { buf.append('$'); i += 2 }
        else if (c == '$' && peek2 == '{') {
          if (buf.nonEmpty) { parts += Left(buf.toString); buf.clear() }
          i += 2
          parts += Right(parseExpr())
          ws(); eat('}')
        } else { buf.append(c); i += 1 }
      }
      if (buf.nonEmpty) parts += Left(buf.toString)
      val built = parts.result()
      Template(if (built.isEmpty) Seq(Left("")) else built)
    }

    /** expr := subject (':' call)* — caller consumes the closing '}'. */
    private def parseExpr(): Node = {
      ws()
      val subject = parseSubject()
      val calls = Seq.newBuilder[Call]
      ws()
      while (peek == ':') {
        i += 1; ws()
        calls += parseCall()
        ws()
      }
      val cs = calls.result()
      if (cs.isEmpty) subject else Chain(subject, cs)
    }

    private def parseSubject(): Node = {
      ws()
      peek match {
        case '\'' | '"' => AttrRef(parseQuoted())
        case c if c == '}' => fail("empty expression")
        case _ =>
          val name = parseIdent()
          ws()
          if (peek == '(') {
            val args = parseArgs()
            Call(name, args)
          } else AttrRef(name)
      }
    }

    private def parseCall(): Call = {
      val name = parseIdent()
      ws()
      val args = if (peek == '(') parseArgs() else Seq.empty
      Call(name, args)
    }

    private def parseArgs(): Seq[Node] = {
      eat('('); ws()
      val args = Seq.newBuilder[Node]
      if (peek != ')') {
        args += parseArg()
        ws()
        while (peek == ',') { i += 1; ws(); args += parseArg(); ws() }
      }
      eat(')')
      args.result()
    }

    private def parseArg(): Node = {
      ws()
      peek match {
        case '\'' | '"' => StrLit(parseQuoted())
        case '$' if peek2 == '{' =>
          i += 2; val e = parseExpr(); ws(); eat('}'); e
        case c if c.isDigit || c == '-' || c == '+' => parseNumber()
        case _ =>
          val id = parseIdent()
          id match {
            case "true"  => BoolLit(true)
            case "false" => BoolLit(false)
            case other   => fail(s"unexpected bare word '$other' in arguments")
          }
      }
    }

    /** Mirrors the reference lexer's num regex (Scanner.ll):
      * [-]?[0-9]+[.]?[0-9]*([eE][+-]?[0-9]+)? — at most one dot, and an
      * exponent must be followed by digits (optionally signed). */
    private def parseNumber(): NumLit = {
      val start = i
      if (peek == '-' || peek == '+') i += 1
      val intStart = i
      while (i < s.length && s.charAt(i).isDigit) i += 1
      if (i == intStart) fail("expected number")
      if (peek == '.') {
        i += 1
        while (i < s.length && s.charAt(i).isDigit) i += 1
      }
      if (peek == 'e' || peek == 'E') {
        i += 1
        if (peek == '+' || peek == '-') i += 1
        val expStart = i
        while (i < s.length && s.charAt(i).isDigit) i += 1
        if (i == expStart) fail("expected digits after exponent")
      }
      NumLit(s.substring(start, i))
    }

    private def parseQuoted(): String = {
      val q = peek; i += 1
      val buf = new StringBuilder
      while (i < s.length && s.charAt(i) != q) {
        val c = s.charAt(i)
        // Reference grammar (Parser.yy text_inc_dollar) recognizes only
        // \' \" \\ inside quoted text; any other backslash stays verbatim.
        if (c == '\\' && i + 1 < s.length) {
          s.charAt(i + 1) match {
            case e @ ('\'' | '"' | '\\') => buf.append(e); i += 1
            case _ => buf.append(c)
          }
        } else buf.append(c)
        i += 1
      }
      eat(q)
      buf.toString
    }

    private def parseIdent(): String = {
      val start = i
      while (i < s.length && (s.charAt(i).isLetterOrDigit || s.charAt(i) == '_' ||
             s.charAt(i) == '.' || s.charAt(i) == '-')) i += 1
      if (i == start) fail(s"expected identifier, found '$peek'")
      s.substring(start, i)
    }
  }
}
