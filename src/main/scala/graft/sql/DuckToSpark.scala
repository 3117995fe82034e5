package graft.sql

import scala.collection.mutable.ArrayBuffer

/** Rewrites a DuckDB query (the dialect of the registry's oracle texts)
  * into stock Spark SQL with the same result, or refuses it.
  *
  * It works on tokens, not characters: string literals, quoted identifiers
  * and comments are never rewritten, and brackets are matched as groups, so
  * every rule sees whole argument lists. Each rule maps one DuckDB construct
  * onto Spark built-ins (no graft-registered functions). A construct whose
  * DuckDB meaning no rule reproduces exactly throws [[DuckToSpark.Refused]]
  * instead of yielding a near miss. The output assumes what graft's
  * sessions set: ANSI on and a UTC session time zone (DuckDB's TIMESTAMP
  * has no zone). Semantics the rules pin (DuckDB 1.0 vs Spark 4.1):
  *  - `arr[i]` is 1-based and NULL at 0 or out of range; `try_element_at`
  *    throws at 0, hence `nullif(i, 0)`;
  *  - `range(a, b[, s])` is an empty BIGINT list when `b <= a`, `sequence`
  *    counts down;
  *  - sibling `unnest`s in one SELECT list zip, padding with NULL;
  *  - `list_reduce` folds from the first element and fails on an empty list;
  *  - `ORDER BY x` puts NULLs last in DuckDB, first in Spark;
  *  - `dayofweek` counts Sunday as 0 in DuckDB, 1 in Spark;
  *  - `('0x' || hex)::BIGINT` parses hexadecimal in DuckDB only;
  *  - string literals take no backslash escapes in DuckDB, and a
  *    `regexp_replace` replacement names groups `\1`, not `$1`.
  * Refused: `ASOF JOIN`, recursive CTEs with `UNION` (set semantics),
  * 3-argument `regexp_replace` (first match only), list lambdas with an
  * index parameter (1-based in DuckDB), `list(x)` without `ORDER BY` (keeps
  * NULLs), `chr` above 255, `^` (power in DuckDB), and any `unnest`,
  * `range` or `list_aggregate` form no rule covers.
  */
object DuckToSpark {

  /** A DuckDB construct with no exact Spark rewrite. */
  final class Refused(msg: String) extends IllegalArgumentException(msg)
  private def refuse(msg: String): Nothing = throw new Refused(msg)

  /** The Spark SQL text with the same result as `duckSql`. */
  def toSpark(duckSql: String): String = {
    val (ns, trailing) = lexTrailing(duckSql)
    if (words(ns).contains("RECURSIVE") && recursiveSetUnion(ns))
      refuse("recursive CTE with UNION (set semantics)")
    render(rw(ns)) + trailing
  }

  // ------------------------------------------------------------- tokens

  private sealed trait Node { def pre: String }
  /** One token and the whitespace and comments before it. Kinds: `w` word,
    * `n` number, `s` string (unescaped value), `q` quoted identifier, `o`
    * operator, `p` template placeholder.
    */
  private final case class Tok(pre: String, kind: Char, text: String) extends Node
  /** A bracketed group `(…)`, `[…]` or `{…}`; `end` is the trivia before
    * its closing bracket.
    */
  private final case class Grp(pre: String, open: Char, body: Vector[Node], end: String) extends Node

  private type Nodes = Vector[Node]
  private val Ops2 = Seq("->", "::", ":=", "//", "||", "<<", ">>", "<=", ">=", "<>", "!=", "==")
  private val Ops1 = ",.;+-*/%=<>&|:"
  private val Close = Map('(' -> ')', '[' -> ']', '{' -> '}')

  /** Tokens of `s`; `spark` admits Spark-only operators (rule templates). */
  private def lex(s: String, spark: Boolean = false): Nodes = lexTrailing(s, spark)._1

  /** Tokens of `s` and the whitespace and comments after the last one. */
  private def lexTrailing(s: String, spark: Boolean = false): (Nodes, String) = {
    var i = 0
    def trivia(): String = {
      val st = i
      var more = true
      while (more && i < s.length) {
        if (s(i).isWhitespace) i += 1
        else if (s.startsWith("--", i)) while (i < s.length && s(i) != '\n') i += 1
        else if (s.startsWith("/*", i)) {
          val e = s.indexOf("*/", i + 2); i = if (e < 0) s.length else e + 2
        } else more = false
      }
      s.substring(st, i)
    }
    def quoted(q: Char): String = {
      val sb = new StringBuilder
      i += 1
      while (i < s.length && !(s(i) == q && !s.startsWith(s"$q$q", i))) {
        if (s(i) == q) i += 1 // a doubled quote stands for one
        sb += s(i); i += 1
      }
      if (i >= s.length) refuse("unterminated quote")
      i += 1
      sb.toString
    }
    def span(p: Char => Boolean): String = { val st = i; while (i < s.length && p(s(i))) i += 1; s.substring(st, i) }
    def seq(close: Char): (Nodes, String) = {
      val out = Vector.newBuilder[Node]
      while (true) {
        val pre = trivia()
        if (i >= s.length) {
          if (close != 0) refuse(s"unbalanced '$close'")
          return (out.result(), pre)
        }
        val c = s(i)
        if (c == close) { i += 1; return (out.result(), pre) }
        out += (c match {
          case '\'' => Tok(pre, 's', quoted('\''))
          case '"' => Tok(pre, 'q', quoted('"'))
          case '(' | '[' | '{' =>
            i += 1; val (body, end) = seq(Close(c)); Grp(pre, c, body, end)
          case '$' => i += 1; Tok(pre, 'p', span(_.isDigit))
          case d if d.isDigit || (d == '.' && i + 1 < s.length && s(i + 1).isDigit) =>
            val num = span(ch => ch.isDigit || ch == '.')
            val exp = if (i < s.length && (s(i) == 'e' || s(i) == 'E')) {
              val st = i; i += 1
              if (i < s.length && (s(i) == '+' || s(i) == '-')) i += 1
              span(_.isDigit); s.substring(st, i)
            } else ""
            Tok(pre, 'n', num + exp)
          case w if w.isLetter || w == '_' => Tok(pre, 'w', span(ch => ch.isLetterOrDigit || ch == '_'))
          case _ =>
            val op = Ops2.find(s.startsWith(_, i)).getOrElse {
              if (Ops1.indexOf(c) < 0 && !(spark && c == '^')) refuse(s"operator '$c'"); c.toString
            }
            i += op.length
            Tok(pre, 'o', op)
        })
      }
      sys.error("unreachable")
    }
    seq(0)
  }

  private def render(ns: Nodes): String = {
    val sb = new StringBuilder
    def emit(pre: String, text: String): Unit = {
      // keep adjacent words apart when a rule put them next to each other
      if (pre.isEmpty && sb.nonEmpty && isWordChar(sb.last) && text.nonEmpty && isWordChar(text.head)) sb += ' '
      sb ++= pre ++= text
    }
    def go(n: Node): Unit = n match {
      case Tok(pre, 's', v) => emit(pre, "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'")
      case Tok(pre, 'q', v) => emit(pre, "`" + v.replace("`", "``") + "`")
      case Tok(pre, _, t) => emit(pre, t)
      case Grp(pre, o, body, end) => emit(pre, o.toString); body.foreach(go); sb ++= end += Close(o)
    }
    ns.foreach(go)
    sb.toString
  }

  private def isWordChar(c: Char) = c.isLetterOrDigit || c == '_'

  private def words(ns: Nodes): Vector[String] = ns.flatMap {
    case Tok(_, 'w', w) => Vector(w.toUpperCase)
    case Grp(_, _, b, _) => words(b)
    case _ => Vector.empty
  }

  private def isWord(n: Node, w: String) = n match {
    case Tok(_, 'w', t) => t.equalsIgnoreCase(w)
    case _ => false
  }
  private def isOp(n: Node, o: String) = n match {
    case Tok(_, 'o', t) => t == o
    case _ => false
  }

  /** A CTE `name [(cols)] AS (body)` whose body reads `name` and joins its
    * arms with a set UNION (DuckDB iterates to a fixpoint of distinct rows;
    * Spark's recursive CTEs take only UNION ALL).
    */
  private def recursiveSetUnion(ns: Nodes): Boolean = ns.indices.exists { i =>
    (ns(i), ns.lift(i + 1)) match {
      case (Tok(_, 'w', as), Some(Grp(_, '(', body, _))) if as.equalsIgnoreCase("AS") =>
        val name = ns.lift(i - 1) match {
          case Some(_: Grp) => ns.lift(i - 2)
          case other => other
        }
        name.exists { case Tok(_, 'w', n) => words(body).contains(n.toUpperCase); case _ => false } &&
          body.indices.exists(k => isWord(body(k), "UNION") && !body.lift(k + 1).exists(isWord(_, "ALL")))
      case (Grp(_, _, b, _), _) => recursiveSetUnion(b)
      case _ => false
    }
  }

  private def setPre(ns: Nodes, pre: String): Nodes = ns match {
    case (t: Tok) +: rest => t.copy(pre = pre) +: rest
    case (g: Grp) +: rest => g.copy(pre = pre) +: rest
    case _ => ns
  }

  /** Top-level comma-separated parts of a group body. */
  private def split(body: Nodes, sep: Node => Boolean = isOp(_, ",")): Vector[Nodes] =
    if (body.isEmpty) Vector.empty
    else body.foldLeft(Vector(Vector.empty[Node])) { (acc, n) =>
      if (sep(n)) acc :+ Vector.empty else acc.init :+ (acc.last :+ n)
    }

  private def join(parts: Seq[Nodes], sep: String = ","): Nodes =
    parts.zipWithIndex.flatMap { case (p, k) => if (k == 0) p else Tok("", 'o', sep) +: p }.toVector

  /** Lexes a Spark-side template and splices `$k` with `args(k - 1)`. */
  private def tpl(t: String, args: Nodes*): Nodes = {
    def sub(ns: Nodes): Nodes = ns.flatMap {
      case Tok(pre, 'p', k) =>
        if (k.toInt > args.length) refuse(s"missing argument $k in $t")
        setPre(args(k.toInt - 1), pre)
      case g: Grp => Vector(g.copy(body = sub(g.body)))
      case n => Vector(n)
    }
    sub(lex(t, spark = true))
  }

  private def word(pre: String, w: String): Tok = Tok(pre, 'w', w)
  private def call(name: String, args: Seq[Nodes]): Nodes =
    Vector(word("", name), Grp("", '(', join(args.zipWithIndex.map { case (x, k) =>
      if (k > 0 && x.headOption.exists(_.pre.isEmpty)) setPre(x, " ") else x
    }), ""))

  // ------------------------------------------------------------ rewrite

  /** Words that may precede a `(` without making a function call. */
  private val Keywords = Set("AS", "IN", "EXISTS", "ON", "USING", "AND", "OR", "NOT", "FROM",
    "JOIN", "SELECT", "WHERE", "WITH", "RECURSIVE", "VALUES", "OVER", "BY", "THEN", "ELSE",
    "WHEN", "CASE", "END", "UNION", "ALL", "EXCEPT", "INTERSECT", "DISTINCT", "FILTER",
    "WITHIN", "ANY", "SOME", "LATERAL", "VIEW", "IS", "LIKE", "BETWEEN", "HAVING", "GROUP",
    "ORDER", "LIMIT", "INTERVAL", "CROSS", "INNER", "LEFT", "RIGHT", "FULL", "OUTER", "ROWS",
    "PARTITION", "DESC", "ASC", "NULLS", "LAST", "FIRST", "WINDOW", "OFFSET")
  /** Words that end a FROM clause, a SELECT list or a query's clause. */
  private val ClauseEnds = Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "EXCEPT",
    "INTERSECT", "WINDOW", "QUALIFY")
  private val FromEnds = ClauseEnds ++ Set("SELECT", "ON", "USING")
  private val OrderEnds = Set("LIMIT", "OFFSET", "ROWS", "RANGE", "GROUPS", "UNION", "EXCEPT",
    "INTERSECT", "FETCH", "WINDOW")

  private def isCallHead(ns: Nodes, i: Int): Boolean = ns(i) match {
    case Tok(_, 'w', w) if !Keywords(w.toUpperCase) => ns.lift(i + 1).exists {
      case Grp("", '(', _, _) => true
      case _ => false
    }
    case _ => false
  }

  /** Rewrites one bracket level. Output is kept in units so that a postfix
    * (`[i]`, `::T`) can take the primary expression before it.
    */
  private def rw(in: Nodes): Nodes = {
    val ns = nullsLast(unnests(shift(in)))
    val out = ArrayBuffer.empty[(Nodes, Boolean)] // (unit, is a primary)
    var inFrom = false
    var i = 0
    def prev: String = out.lastOption.flatMap(_._1.lastOption).collect {
      case Tok(_, 'w', w) => w.toUpperCase
      case Tok(_, 'o', ",") => ","
    }.getOrElse("")
    def push(u: Nodes, primary: Boolean): Unit = {
      // a dotted name (`s.field`) is one primary
      if (primary && out.length >= 2 && isOp(out.last._1.head, ".") && out(out.length - 2)._2) {
        val dot = out.remove(out.length - 1)._1
        val lhs = out.remove(out.length - 1)._1
        out += ((lhs ++ dot ++ u, true))
      } else out += ((u, primary))
    }
    def popPrimary(what: String): Nodes =
      if (out.lastOption.exists(_._2)) out.remove(out.length - 1)._1 else refuse(s"$what without an operand")
    while (i < ns.length) {
      val n = ns(i)
      n match {
        case Tok(_, 'w', w) if isCallHead(ns, i) && w.equalsIgnoreCase("unnest") && inFrom &&
            (prev == "," || prev == "LATERAL") =>
          // an unnest joined laterally to the relations before it
          while (prev == "," || prev == "LATERAL") out.remove(out.length - 1)
          val as = if (ns.lift(i + 2).exists(isWord(_, "AS"))) 1 else 0
          (split(ns(i + 1).asInstanceOf[Grp].body), ns.drop(i + 2 + as)) match {
            case (Vector(arg), (t @ Tok(_, 'w', _)) +: Grp("", '(', Vector(c @ Tok(_, 'w', _)), _) +: after)
                if !after.headOption.exists(n => isOp(n, ",") || isWord(n, "JOIN")) =>
              push(tpl(" LATERAL VIEW explode($1) $2 AS $3", rw(arg), Vector(t), Vector(c)), primary = false)
              i += 4 + as
            case _ => refuse("lateral unnest other than `, unnest(x) AS t(c)` ending the FROM list")
          }
        case Tok(pre, 'w', w) if isCallHead(ns, i) =>
          val g = ns(i + 1).asInstanceOf[Grp]
          val p = prev
          val tvf = p == "FROM" || p == "JOIN" || p == "LATERAL" || (p == "," && inFrom)
          push(setPre(if (tvf) tableFn(w.toLowerCase, g, ns.drop(i + 2)) else fn(w, g), pre), primary = true)
          i += 2
        case Grp(pre, '[', body, _) if out.lastOption.exists(_._2) =>
          val target = popPrimary("index")
          val lead = target.head.pre
          push(setPre(index(setPre(target, ""), body), lead), primary = true)
          i += 1
        case Grp(pre, '[', body, end) =>
          push(Vector(word(pre, "array"), Grp("", '(', rw(body), end)), primary = true); i += 1
        case Grp(_, '{', _, _) => refuse("struct literal")
        case g @ Grp(_, '(', body, _) => push(Vector(g.copy(body = rw(body))), primary = true); i += 1
        case Tok(pre, 'o', "//") => push(Vector(word(if (pre.isEmpty) " " else pre, "DIV")), primary = false); i += 1
        case Tok(_, 'o', "::") =>
          val target = popPrimary("::")
          val (ty, used) = castType(ns.drop(i + 1))
          push(setPre(cast(setPre(target, ""), ty), target.head.pre), primary = true)
          i += 1 + used
        case Tok(_, 'o', ":=") => refuse("named argument")
        case Tok(pre, 'w', w) =>
          val up = w.toUpperCase
          if (up == "ASOF") refuse("ASOF JOIN")
          if (up == "FROM" || up == "JOIN") inFrom = true
          else if (FromEnds(up)) inFrom = false
          push(Vector(n), primary = !Keywords(up))
          i += 1
        case Tok(_, 'q', _) => push(Vector(n), primary = true); i += 1
        case _ => push(Vector(n), primary = false); i += 1
      }
    }
    out.flatMap(_._1).toVector
  }

  /** `a << b` and `a >> b` as `shiftleft`/`shiftright` (Spark's lexer
    * splits `>>` after a `<` in the same statement). A shift binds looser
    * than arithmetic and tighter than comparisons and keywords; next to an
    * operator of its own precedence (`&`, `|`, `||`, another shift) it is
    * refused.
    */
  private def shift(ns: Nodes): Nodes = {
    val at = ns.indexWhere(n => isOp(n, "<<") || isOp(n, ">>"))
    if (at < 0) return ns
    val same = Set("&", "|", "||", "<<", ">>")
    val looser = Set("=", "<", ">", "<=", ">=", "<>", "!=", "==", ",", ";", "->")
    def bound(n: Node) = n match {
      case Tok(_, 'o', o) => same(o) || looser(o)
      case Tok(_, 'w', w) => Keywords(w.toUpperCase)
      case _ => false
    }
    val lo = ns.lastIndexWhere(bound, at - 1) + 1
    val hi = ns.indexWhere(bound, at + 1) match { case -1 => ns.length; case e => e }
    if (lo == at || hi == at + 1 || Seq(lo - 1, hi).exists(k => ns.lift(k).exists(n => same.exists(isOp(n, _)))))
      refuse("a shift beside an operator of its own precedence")
    val name = if (isOp(ns(at), "<<")) "shiftleft" else "shiftright"
    val call = setPre(Vector(word("", name), Grp("", '(', setPre(ns.slice(lo, at), "") ++
      Vector(Tok("", 'o', ",")) ++ setPre(ns.slice(at + 1, hi), " "), "")), ns(lo).pre)
    shift(ns.take(lo) ++ call ++ ns.drop(hi))
  }

  /** `x[i]` (1-based, NULL at 0 or out of range) and `x[a:b]` (inclusive). */
  private def index(target: Nodes, body: Nodes): Nodes = split(body, isOp(_, ":")) match {
    case Vector(a, b) if a.nonEmpty && b.nonEmpty => slice(target, rw(a), rw(b))
    case Vector(ix) =>
      rw(ix) match {
        case k @ Vector(Tok(_, 'n', d)) if d.forall(_.isDigit) && d.toLong >= 1 => tpl("try_element_at($1, $2)", target, k)
        case k => tpl("try_element_at($1, CAST(nullif($2, 0) AS INT))", target, k)
      }
    case _ => refuse("open-ended slice")
  }

  private def slice(l: Nodes, a: Nodes, b: Nodes): Nodes =
    tpl("slice($1, $2, greatest(($3) - ($2) + 1, 0))", l, a, b)

  /** `range(a, b[, s])` (half-open) and `generate_series` (closed) as
    * lists: empty when the bound is not past the start, where `sequence`
    * would count down.
    */
  private def range(args: Vector[Nodes], inclusive: Boolean): Nodes = {
    val (a, b0, step) = args match {
      case Vector(b) => (Vector(Tok("", 'n', "0")), b, None)
      case Vector(a, b) => (a, b, None)
      case Vector(a, b, s @ Vector(Tok(_, 'n', d))) if d.forall(_.isDigit) && d.toLong > 0 => (a, b, Some(s))
      case _ => refuse("range with a non-literal or non-positive step")
    }
    val b = if (inclusive) tpl("($1) + 1", b0) else b0
    (a, b, step) match {
      case (Vector(Tok(_, 'n', x)), Vector(Tok(_, 'n', y)), None) if (x + y).forall(_.isDigit) =>
        if (y.toLong > x.toLong) tpl(s"sequence(CAST($x AS BIGINT), CAST(${y.toLong - 1} AS BIGINT))")
        else tpl("slice(sequence(CAST(0 AS BIGINT), 0), 1, 0)")
      case (_, _, None) =>
        tpl("slice(sequence(CAST($1 AS BIGINT), CAST(greatest($1, ($2) - 1) AS BIGINT)), 1, " +
          "CAST(greatest(($2) - ($1), 0) AS INT))", a, b)
      case (_, _, Some(s)) =>
        tpl("slice(sequence(CAST($1 AS BIGINT), CAST(greatest($1, ($2) - 1) AS BIGINT), CAST($3 AS BIGINT)), 1, " +
          "CAST(greatest((($2) - ($1) + $3 - 1) DIV $3, 0) AS INT))", a, b, s)
    }
  }

  /** A function in FROM position: `range` stays Spark's table function
    * (its column named like DuckDB's), `unnest` becomes `explode`.
    */
  private def tableFn(name: String, g: Grp, rest: Nodes): Nodes = {
    val args = split(g.body).map(rw)
    name match {
      case "range" =>
        val spark = args match {
          case Vector(a, b) => tpl("range($1, $2)", a, b)
          case _ => refuse("range table function without exactly two bounds")
        }
        // a column alias list names the column; without one DuckDB calls it `range`
        rest.dropWhile(isWord(_, "AS")) match {
          case Tok(_, 'w', al) +: Grp("", '(', _, _) +: _ if !Keywords(al.toUpperCase) => spark
          case Tok(_, 'w', al) +: _ if !Keywords(al.toUpperCase) && !FromEnds(al.toUpperCase) =>
            refuse("range table function aliased without a column list")
          case _ => spark ++ tpl(" AS range(range)")
        }
      case "unnest" if args.length == 1 => tpl("explode($1)", args(0))
      case _ => fn(name, g)
    }
  }

  /** `CAST(x AS T)`; DuckDB reads a `'0x' || hex` string cast to an
    * integer as hexadecimal, Spark needs `conv`.
    */
  private def cast(x: Nodes, ty: Nodes): Nodes = {
    def unwrap(v: Nodes): Nodes = v match {
      case Vector(Grp(_, '(', b, _)) => unwrap(b)
      case _ => v
    }
    unwrap(x) match {
      case Tok(_, 's', p) +: Tok(_, 'o', "||") +: hex if p.equalsIgnoreCase("0x") =>
        if (!isWord(ty.head, "BIGINT")) refuse(s"hex string cast to ${render(ty)}")
        tpl("CAST(conv($1, 16, 10) AS BIGINT)", hex)
      case _ => tpl("CAST($1 AS $2)", x, ty)
    }
  }

  private def castType(ns: Nodes): (Nodes, Int) = {
    val base = ns.headOption match {
      case Some(Tok(_, 'w', w)) => w.toUpperCase
      case _ => refuse("cast without a type")
    }
    var used = 1
    val params = ns.lift(used) match {
      case Some(g @ Grp("", '(', _, _)) => used += 1; Vector(g)
      case _ => Vector.empty
    }
    val spark: Nodes = base match {
      case "VARCHAR" | "STRING" => Vector(word("", "STRING"))
      case "INTEGER" | "INT" | "BIGINT" | "DOUBLE" | "DECIMAL" | "DATE" | "TIMESTAMP" => word("", base) +: params
      case other => refuse(s"type $other")
    }
    var ty = spark
    while (ns.lift(used).exists { case Grp("", '[', b, _) => b.isEmpty; case _ => false }) {
      ty = tpl("ARRAY<$1>", ty); used += 1
    }
    (ty, used)
  }

  private def lambdaArity(arg: Nodes): Int = arg match {
    case Grp(_, '(', b, _) +: Tok(_, 'o', "->") +: _ => split(b).length
    case _ => 1
  }

  private def intLit(a: Nodes): Option[Long] = a match {
    case Vector(Tok(_, 'n', d)) if d.forall(_.isDigit) => Some(d.toLong)
    case _ => None
  }
  private def strLit(a: Nodes): Option[String] = a match {
    case Vector(Tok(_, 's', v)) => Some(v)
    case _ => None
  }

  /** DuckDB strftime directives with a Spark datetime-pattern twin. */
  private val Strftime = Map('Y' -> "yyyy", 'm' -> "MM", 'd' -> "dd", 'H' -> "HH", 'M' -> "mm",
    'S' -> "ss")

  private def dateFormat(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt(i) == '%' && i + 1 < fmt.length) {
        sb ++= Strftime.getOrElse(fmt(i + 1), refuse(s"strftime %${fmt(i + 1)}")); i += 2
      } else {
        val c = fmt(i)
        sb ++= (if (c.isLetter) s"'$c'" else if (c == '\'') "''" else c.toString); i += 1
      }
    }
    sb.toString
  }

  /** An RE2 replacement (`\1` a group, `\\` a backslash) as a Java one. */
  private def javaReplacement(r: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      r(i) match {
        case '\\' if i + 1 < r.length && r(i + 1).isDigit => sb ++= "$" += r(i + 1); i += 2
        case '\\' if i + 1 < r.length && r(i + 1) == '\\' => sb ++= "\\\\"; i += 2
        case '\\' => refuse(s"regexp_replace replacement escape in '$r'")
        case '$' => sb ++= "\\$"; i += 1
        case c => sb += c; i += 1
      }
    }
    sb.toString
  }

  /** DuckDB's aggregate over a list's non-NULL elements: NULL when none. */
  private def foldNonNull(l: Nodes, step: Nodes): Nodes =
    tpl("aggregate(slice($1, 2, size($1)), try_element_at($1, 1), (s__, x__) -> $2)",
      tpl("filter($1, x__ -> x__ IS NOT NULL)", l), step)

  /** `x ORDER BY k1, k2` inside an aggregate's argument. */
  private def orderBy(arg: Nodes): (Nodes, Vector[Nodes]) = {
    val at = arg.indices.find(k => isWord(arg(k), "ORDER") && arg.lift(k + 1).exists(isWord(_, "BY")))
    at.fold((arg, Vector.empty[Nodes]))(k => (arg.take(k), split(arg.drop(k + 2))))
  }

  /** Function calls (outside FROM). */
  private def fn(name: String, g: Grp): Nodes = {
    val raw = split(g.body)
    lazy val a = raw.map(rw)
    def arity(k: Int*): Unit = if (!k.contains(a.length)) refuse(s"$name/${a.length}")
    def same(spark: String): Nodes = Vector(word("", spark), Grp("", '(', join(a), g.end))
    name.toLowerCase match {
      case "cast" =>
        val body = g.body
        val as = body.lastIndexWhere(isWord(_, "AS"))
        if (as < 0) refuse("CAST without AS")
        val (ty, used) = castType(body.drop(as + 1))
        if (as + 1 + used != body.length) refuse("CAST type")
        cast(rw(body.take(as)), ty)
      case "len" => arity(1); same("size")
      case "list_transform" | "list_filter" =>
        arity(2)
        if (lambdaArity(raw(1)) != 1) refuse(s"$name lambda with an index (1-based in DuckDB)")
        same(if (name.equalsIgnoreCase("list_transform")) "transform" else "filter")
      case "list_distinct" => arity(1); same("array_distinct")
      case "list_contains" => arity(2); same("array_contains")
      case "list_intersect" => arity(2); same("array_intersect")
      case "list_sort" => arity(1); same("array_sort")
      case "list_reverse" => arity(1); same("reverse")
      case "list_prepend" => arity(2); call("array_prepend", Seq(a(1), a(0)))
      case "list_slice" => arity(3); slice(a(0), a(1), a(2))
      case "list_reduce" =>
        arity(2)
        tpl("aggregate(slice($1, 2, size($1)), element_at($1, 1), $2)", a(0), a(1))
      case "list_aggregate" =>
        arity(2, 3)
        strLit(raw(1)) match {
          case Some("min") => call("array_min", Seq(a(0)))
          case Some("max") => call("array_max", Seq(a(0)))
          case Some("sum") => foldNonNull(a(0), tpl("s__ + x__"))
          case Some("string_agg") if a.length == 3 && strLit(raw(2)).isDefined =>
            foldNonNull(a(0), tpl("s__ || $1 || x__", a(2)))
          case other => refuse(s"list_aggregate $other")
        }
      case "range" => range(a, inclusive = false)
      case "generate_series" => range(a, inclusive = true)
      case "array_to_string" => arity(2); same("array_join")
      case "json_extract_string" => arity(2); same("get_json_object")
      case "strpos" => arity(2); same("instr")
      case "epoch_us" => arity(1); tpl("unix_micros(CAST($1 AS TIMESTAMP))", a(0))
      case "quantile_cont" => arity(2); same("percentile")
      case "error" => arity(1); same("raise_error")
      case "xor" => arity(2); tpl("(($1) ^ ($2))", a(0), a(1))
      case "dayofweek" => arity(1); tpl("(dayofweek($1) - 1)", a(0))
      case "trim" if a.length == 2 => tpl("trim(BOTH $2 FROM $1)", a(0), a(1))
      case "make_timestamp" if a.length == 1 => same("timestamp_micros")
      case "chr" =>
        arity(1)
        if (!intLit(a(0)).exists(_ < 256)) refuse("chr of a code point that may exceed 255")
        same("chr")
      case "regexp_extract_all" => arity(2, 3); call("regexp_extract_all", if (a.length == 2) a :+ tpl("0") else a)
      case "regexp_matches" => arity(2); same("regexp_like")
      case "regexp_replace" =>
        arity(3, 4)
        if (a.length == 3) refuse("regexp_replace without 'g' replaces only the first match")
        if (!strLit(raw(3)).contains("g")) refuse(s"regexp_replace options ${render(raw(3))}")
        // the replacement may concatenate literals and chr(k) of a plain character
        val plainChr = (k: Int) => raw(2).lift(k + 1).exists {
          case Grp(_, '(', Vector(Tok(_, 'n', d)), _) => d.forall(_.isDigit) && d.toInt != '$' && d.toInt != '\\'
          case _ => false
        }
        val repl = raw(2).zipWithIndex.map {
          case (t @ Tok(_, 's', v), _) => t.copy(text = javaReplacement(v))
          case (t @ Tok(_, 'o', "||"), _) => t
          case (t @ Tok(_, 'w', w), k) if w.equalsIgnoreCase("chr") && plainChr(k) => t
          case (g: Grp, k) if k > 0 && isWord(raw(2)(k - 1), "chr") => g
          case _ => refuse("regexp_replace with a computed replacement")
        }
        call("regexp_replace", a.take(2) :+ rw(repl))
      case "string_split" =>
        arity(2)
        val sep = (raw(1) match {
          case Vector(Tok(_, 'w', c), Grp(_, '(', k, _)) if c.equalsIgnoreCase("chr") => intLit(k).map(_.toChar.toString)
          case lit => strLit(lit)
        }).filter(_.nonEmpty).getOrElse(refuse("string_split on a non-literal separator"))
        call("split", Seq(a(0), Vector(Tok("", 's', java.util.regex.Pattern.quote(sep))), tpl("-1")))
      case "strftime" =>
        arity(2)
        call("date_format", Seq(a(0), Vector(Tok("", 's', dateFormat(strLit(raw(1)).getOrElse(refuse("strftime format")))))))
      case "date_diff" =>
        arity(3)
        if (!strLit(raw(0)).contains("day")) refuse(s"date_diff ${render(raw(0))}")
        tpl("CAST(datediff($1, $2) AS BIGINT)", a(2), a(1))
      case "struct_pack" =>
        call("named_struct", raw.flatMap {
          case Tok(_, 'w', k) +: Tok(_, 'o', ":=") +: v => Seq(Vector(Tok("", 's', k)), rw(v))
          case _ => refuse("struct_pack without names")
        })
      case "list" =>
        arity(1)
        val (x, keys) = orderBy(raw(0))
        if (keys.isEmpty) refuse("list() keeps NULLs; collect_list drops them")
        if (x.headOption.exists(isWord(_, "DISTINCT"))) refuse("list(DISTINCT …)")
        val fields = keys.zipWithIndex.flatMap { case (k, j) =>
          if (k.exists(n => isWord(n, "DESC") || isWord(n, "NULLS"))) refuse("list ORDER BY direction")
          val e = rw(k.filterNot(isWord(_, "ASC")))
          Seq(tpl(s"'n$j'"), tpl("($1) IS NULL", e), tpl(s"'k$j'"), e)
        }
        tpl("transform(array_sort(collect_list($1)), e__ -> e__.v)",
          call("named_struct", fields ++ Seq(tpl("'v'"), rw(x))))
      case "string_agg" =>
        arity(2)
        val (sep, keys) = orderBy(raw(1))
        val base = call("string_agg", Seq(a(0), rw(sep)))
        if (keys.isEmpty) base
        else base ++ tpl(" WITHIN GROUP ($1)", nullsLast(tpl("ORDER BY") ++ join(keys.map(k => setPre(rw(k), " ")))))
      case "unnest" => refuse("unnest outside a SELECT list or FROM")
      case _ => Vector(word("", name), Grp("", '(', rw(g.body), g.end))
    }
  }

  /** Appends `NULLS LAST` to ascending ORDER BY keys that name no order. */
  private def nullsLast(ns: Nodes): Nodes = {
    val out = ArrayBuffer.empty[Node]
    var i = 0
    while (i < ns.length) {
      if (isWord(ns(i), "ORDER") && ns.lift(i + 1).exists(isWord(_, "BY"))) {
        out += ns(i) += ns(i + 1)
        var j = i + 2
        while (j < ns.length && !(ns(j) match {
            case Tok(_, 'w', w) => OrderEnds(w.toUpperCase)
            case t => isOp(t, ";")
          })) j += 1
        val keys = split(ns.slice(i + 2, j)).map { k =>
          if (k.exists(n => isWord(n, "NULLS") || isWord(n, "DESC"))) k else k ++ tpl(" NULLS LAST")
        }
        out ++= join(keys)
        i = j
      } else { out += ns(i); i += 1 }
    }
    out.toVector
  }

  /** DuckDB evaluates `unnest` in a SELECT list after the rest of the list,
    * zipping siblings and padding with NULL. A lone whole-item unnest becomes
    * `explode`; adjacent whole-item siblings become one
    * `inline(arrays_zip(…))`; an unnest inside an expression becomes a
    * LATERAL VIEW column (refused where that would move it before a GROUP BY
    * or a window).
    */
  private def unnests(ns: Nodes): Nodes = {
    val sel = ns.indexWhere(isWord(_, "SELECT"))
    if (sel < 0) return ns
    val start = if (ns.lift(sel + 1).exists(n => isWord(n, "DISTINCT") || isWord(n, "ALL"))) sel + 2 else sel + 1
    val end = ns.indexWhere(n => topWord(n).exists(w => w == "FROM" || ClauseEnds(w)), start) match {
      case -1 => ns.length
      case e => e
    }
    val items = split(ns.slice(start, end))
    val tail = ns.drop(end)
    def isUnnest(v: Nodes, k: Int) = isCallHead(v, k) && isWord(v(k), "unnest")
    def arg(v: Nodes, k: Int): Nodes = split(v(k + 1).asInstanceOf[Grp].body) match {
      case Vector(a) => a
      case _ => refuse("unnest with options")
    }
    def count(v: Nodes): Int = v.indices.map { k =>
      if (isUnnest(v, k)) 1
      else v(k) match {
        case Grp(_, _, b, _) if !b.headOption.exists(n => isWord(n, "SELECT") || isWord(n, "WITH")) => count(b)
        case _ => 0
      }
    }.sum
    val counts = items.map(count)
    val at = counts.indexWhere(_ > 0)
    if (at < 0) return ns.take(end) ++ unnests(tail)
    val ats = counts.indices.filter(counts(_) > 0)
    def whole(item: Nodes) = isUnnest(item, 0) && item.drop(2).forall(n => n.isInstanceOf[Tok] && !isOp(n, "->"))
    def alias(item: Nodes): Nodes = item.drop(2).filterNot(isWord(_, "AS")) match {
      case Vector(t @ Tok(_, 'w' | 'q', _)) => Vector(t.copy(pre = ""))
      case _ => refuse("zipped unnest without an alias")
    }
    def zip(args: Seq[Nodes]): Nodes =
      if (args.length == 1) tpl("explode($1)", args.head)
      else tpl("inline(arrays_zip($1))", join(args.map(a => tpl("coalesce($1, array())", setPre(a, ""))), ", "))
    if (ats.forall(k => whole(items(k))) && ats == (at until at + ats.length)) {
      val first = items(at)
      val gen =
        if (ats.length == 1) word(first.head.pre, "explode") +: first.tail
        else setPre(zip(ats.map(k => arg(items(k), 0))) ++ tpl(" AS ($1)", join(ats.map(k => alias(items(k))), ", ")),
          first.head.pre)
      return ns.take(start) ++ join(items.take(at) ++ Vector(gen) ++ items.drop(at + ats.length)) ++ unnests(tail)
    }
    // nested: each unnest becomes a LATERAL VIEW column of this SELECT
    if (!tail.headOption.exists(isWord(_, "FROM"))) refuse("unnest inside an expression without FROM")
    val clauseEnd = tail.indexWhere(n => topWord(n).exists(ClauseEnds)) match { case -1 => tail.length; case e => e }
    val setOp = tail.indexWhere(n => topWord(n).exists(w => w == "UNION" || w == "EXCEPT" || w == "INTERSECT"))
    val own = if (setOp < 0) tail else tail.take(setOp)
    if (own.exists(n => isWord(n, "GROUP") || isWord(n, "HAVING")) || items.exists(_.exists(isWord(_, "OVER"))))
      refuse("unnest inside an expression of an aggregate or windowed SELECT")
    val found = ArrayBuffer.empty[Nodes]
    def sub(v: Nodes): Nodes = {
      val out = ArrayBuffer.empty[Node]
      var k = 0
      while (k < v.length) {
        if (isUnnest(v, k)) { found += arg(v, k); out += word(v(k).pre, s"u__${found.length - 1}"); k += 2 }
        else {
          out += (v(k) match {
            case g @ Grp(_, _, b, _) if !b.headOption.exists(n => isWord(n, "SELECT") || isWord(n, "WITH")) =>
              g.copy(body = sub(b))
            case n => n
          })
          k += 1
        }
      }
      out.toVector
    }
    val replaced = items.map(sub)
    val lateral = tpl(" LATERAL VIEW $1 lv__ AS $2", zip(found.toSeq),
      join(found.indices.map(k => Vector(word(if (k == 0) "" else " ", s"u__$k")))))
    ns.take(start) ++ join(replaced) ++ tail.take(clauseEnd) ++ lateral ++ unnests(tail.drop(clauseEnd))
  }

  private def topWord(n: Node): Option[String] = n match {
    case Tok(_, 'w', w) => Some(w.toUpperCase)
    case _ => None
  }
}
