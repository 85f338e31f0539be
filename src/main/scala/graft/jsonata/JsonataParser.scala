package graft.jsonata

import scala.collection.mutable.ListBuffer

/** Recursive-descent parser for the JSONata subset in JsonataAst.
  * Precedence (low→high): ?: · or · and · comparison · & · + - · * / % ·
  * unary minus · postfix ([...] indexing/predicates, . path steps) ·
  * primary. Matches the public JSONata grammar for the supported subset.
  */
object JsonataParser {

  def parse(src: String): JNode = {
    val p = new Parser(tokenize(src))
    val e = p.expr()
    if (!p.atEnd) throw new JsonataParseError(s"trailing input at token ${p.peek}")
    e
  }

  // ---- tokenizer --------------------------------------------------------
  sealed trait Tok
  case class TNum(v: Double) extends Tok
  case class TStr(v: String) extends Tok
  case class TName(v: String) extends Tok   // bare identifier
  case class TVar(v: String) extends Tok    // $name ('' for bare $)
  case class TOp(v: String) extends Tok     // operators & punctuation

  private val twoCharOps = Set("<=", ">=", "!=", ":=", "**", "~>")

  def tokenize(src: String): Vector[Tok] = {
    val out = ListBuffer.empty[Tok]
    var i = 0
    def err(m: String) = throw new JsonataParseError(s"$m at offset $i in: $src")
    while (i < src.length) {
      val c = src(i)
      if (c.isWhitespace) i += 1
      else if (c.isDigit) {
        val start = i
        while (i < src.length && (src(i).isDigit || src(i) == '.' ||
          ((src(i) == 'e' || src(i) == 'E') && i + 1 < src.length &&
            (src(i + 1).isDigit || src(i + 1) == '-' || src(i + 1) == '+')) ||
          ((src(i) == '-' || src(i) == '+') && i > start &&
            (src(i - 1) == 'e' || src(i - 1) == 'E')))) i += 1
        out += TNum(src.substring(start, i).toDouble)
      } else if (c == '"' || c == '\'') {
        val quote = c
        val sb = new StringBuilder
        i += 1
        while (i < src.length && src(i) != quote) {
          if (src(i) == '\\' && i + 1 < src.length) {
            src(i + 1) match {
              case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
              case other => sb += other
            }
            i += 2
          } else { sb += src(i); i += 1 }
        }
        if (i >= src.length) err("unterminated string")
        i += 1
        out += TStr(sb.toString)
      } else if (c == '$') {
        val start = i + 1
        i += 1
        while (i < src.length && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        out += TVar(src.substring(start, i))
      } else if (c.isLetter || c == '_') {
        val start = i
        while (i < src.length && (src(i).isLetterOrDigit || src(i) == '_')) i += 1
        out += TName(src.substring(start, i))
      } else if (c == '`') { // backtick-quoted field name
        val end = src.indexOf('`', i + 1)
        if (end < 0) err("unterminated backtick name")
        out += TName(src.substring(i + 1, end))
        i = end + 1
      } else {
        val two = if (i + 1 < src.length) src.substring(i, i + 2) else ""
        if (twoCharOps(two)) { out += TOp(two); i += 2 }
        else { out += TOp(c.toString); i += 1 }
      }
    }
    out.toVector
  }

  // ---- parser -----------------------------------------------------------
  private class Parser(toks: Vector[Tok]) {
    private var pos = 0
    def atEnd: Boolean = pos >= toks.length
    def peek: String = if (atEnd) "<eof>" else toks(pos).toString
    private def cur: Option[Tok] = if (atEnd) None else Some(toks(pos))
    private def opIs(v: String): Boolean = cur.contains(TOp(v))
    private def nameIs(v: String): Boolean = cur.contains(TName(v))
    private def advance(): Tok = { val t = toks(pos); pos += 1; t }
    private def expect(v: String): Unit =
      if (opIs(v)) pos += 1
      else throw new JsonataParseError(s"expected '$v', found $peek")

    /** binding (lowest precedence, right-assoc): $x := expr */
    def expr(): JNode = cur match {
      case Some(TVar(n)) if n.nonEmpty && pos + 1 < toks.length && toks(pos + 1) == TOp(":=") =>
        advance(); advance()
        JBind(n, expr())
      case _ => conditional()
    }

    private def conditional(): JNode = {
      val c = orExpr()
      if (opIs("?")) {
        advance()
        val t = conditional()
        expect(":")
        val e = conditional()
        JCond(c, t, e)
      } else c
    }

    private def orExpr(): JNode = {
      var l = andExpr()
      while (nameIs("or")) { advance(); l = JBinary("or", l, andExpr()) }
      l
    }

    private def andExpr(): JNode = {
      var l = cmpExpr()
      while (nameIs("and")) { advance(); l = JBinary("and", l, cmpExpr()) }
      l
    }

    private val cmpOps = Set("=", "!=", "<", "<=", ">", ">=")
    private def cmpExpr(): JNode = {
      val l = concatExpr()
      cur match {
        case Some(TOp(op)) if cmpOps(op) => advance(); JBinary(op, l, concatExpr())
        case Some(TName("in")) => advance(); JBinary("in", l, concatExpr())
        case _ => l
      }
    }

    private def concatExpr(): JNode = {
      var l = addExpr()
      while (opIs("&")) { advance(); l = JBinary("&", l, addExpr()) }
      l
    }

    private def addExpr(): JNode = {
      var l = mulExpr()
      while (opIs("+") || opIs("-")) {
        val op = advance().asInstanceOf[TOp].v
        l = JBinary(op, l, mulExpr())
      }
      l
    }

    private def mulExpr(): JNode = {
      var l = unary()
      while (opIs("*") || opIs("/") || opIs("%")) {
        val op = advance().asInstanceOf[TOp].v
        l = JBinary(op, l, unary())
      }
      l
    }

    private def unary(): JNode =
      if (opIs("-")) { advance(); JUnaryMinus(unary()) }
      else postfix()

    /** postfix: primary followed by `.step`, `[index]`, `[predicate]`. */
    private def postfix(): JNode = {
      val base = primary()
      var steps = base match {
        case JPath(s) => s
        case _ => Nil
      }
      var rewrapped = base match {
        case JPath(_) => true
        case _ => false
      }
      def asPath(): Unit = if (!rewrapped) {
        // non-path base with steps: model as base wrapped in a predicate-less
        // path — only legal for [] on constructors/calls
        rewrapped = true
      }
      var continue = true
      while (continue) {
        if (opIs(".")) {
          advance()
          val t = advance() match {
            case TName(n) => JField(n)
            case TStr(n) => JField(n)
            case TOp("*") => JWildcard
            case TOp("**") => JDescendant
            case other => throw new JsonataParseError(s"expected field name after '.', found $other")
          }
          asPath(); steps = steps :+ t
        } else if (opIs("[")) {
          advance()
          val inner = expr()
          expect("]")
          val step = inner match {
            case JNumber(n) if n == n.floor => JIndex(n.toInt)
            case JUnaryMinus(JNumber(n)) if n == n.floor => JIndex(-n.toInt)
            case p => JPredicate(p)
          }
          asPath(); steps = steps :+ step
        } else continue = false
      }
      base match {
        case JPath(_) => JPath(steps)
        case b if steps.nonEmpty =>
          // steps over a non-path base (e.g. $split(...)[0]): encode the base
          // as a pseudo-field lookup via JFunc("__chain", base :: steps)
          JFunc("__chain", b :: steps.map {
            case JIndex(i) => JNumber(i)
            case JPredicate(p) => JFunc("__pred", List(p))
            case JField(n) => JString(n)
            case JWildcard => JFunc("__wild", Nil)
            case JDescendant => throw new JsonataParseError(
              "`**` after a non-path expression is not supported")
          })
        case b => b
      }
    }

    private def primary(): JNode = advance() match {
      case TNum(v) => JNumber(v)
      case TStr(v) => JString(v)
      case TName("true") => JBool(true)
      case TName("false") => JBool(false)
      case TName("null") => JNull
      case TName("function") if opIs("(") =>
        // lambda literal: function($x, $y) { body }
        advance()
        val params = ListBuffer.empty[String]
        if (!opIs(")")) {
          def param(): Unit = advance() match {
            case TVar(p) if p.nonEmpty => params += p
            case other => throw new JsonataParseError(s"lambda parameter must be $$name, found $other")
          }
          param()
          while (opIs(",")) { advance(); param() }
        }
        expect(")")
        expect("{")
        val body = expr()
        expect("}")
        JLambda(params.toList, body)
      case TName(n) => JPath(List(JField(n)))
      case TVar("") => JContext
      case TVar(fn) =>
        if (opIs("(")) {
          advance()
          val args = ListBuffer.empty[JNode]
          if (!opIs(")")) {
            args += expr()
            while (opIs(",")) { advance(); args += expr() }
          }
          expect(")")
          JFunc(fn, args.toList)
        } else if (opIs(":=")) {
          // expr() handles bindings at expression heads; reaching here means
          // := appeared mid-expression, e.g. `1 + $x := 2`
          throw new JsonataParseError(
            s"variable binding $$$fn := must start an expression (wrap in parens)")
        } else JVarRef(fn) // bound variable reference
      case TOp("(") =>
        // block: (e1; e2; ...) — bindings scope over later exprs; the
        // block's value is the last expression's value
        val exprs = ListBuffer(expr())
        while (opIs(";")) {
          advance()
          if (!opIs(")")) exprs += expr() // tolerate a trailing ';'
        }
        expect(")")
        if (exprs.length == 1 && !exprs.head.isInstanceOf[JBind]) exprs.head
        else JBlock(exprs.toList)
      case TOp("{") =>
        val fields = ListBuffer.empty[(JKey, JNode)]
        if (!opIs("}")) {
          def kv(): Unit = {
            // a bare name / string directly followed by ':' is a literal
            // key (JSONata's common form); anything else is a computed-key
            // expression, e.g. {$k: v} or {name & "_x": v}
            val k: JKey = cur match {
              case Some(TStr(s)) if pos + 1 < toks.length && toks(pos + 1) == TOp(":") =>
                advance(); JKeyLit(s)
              case Some(TName(s)) if pos + 1 < toks.length && toks(pos + 1) == TOp(":") =>
                advance(); JKeyLit(s)
              case _ => JKeyExpr(expr())
            }
            expect(":")
            fields += (k -> expr())
          }
          kv()
          while (opIs(",")) { advance(); kv() }
        }
        expect("}")
        JObject(fields.toList)
      case TOp("[") =>
        val items = ListBuffer.empty[JNode]
        if (!opIs("]")) {
          items += expr()
          while (opIs(",")) { advance(); items += expr() }
        }
        expect("]")
        JArray(items.toList)
      case TOp("*") => JPath(List(JWildcard))
      case TOp("**") => JPath(List(JDescendant))
      case other => throw new JsonataParseError(s"unexpected token $other")
    }
  }
}
