package graft.jsonata

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compile a JSONata AST into a single Catalyst `Column` expression tree,
  * statically typed against the payload schema (the from_json StructType).
  *
  * The reference compiles the user expression once at startup and
  * evaluates it per message (bin/mqtt-streamr.js:108,157-159); here the
  * "compile" step produces a Column and Catalyst/Tungsten codegen does the
  * per-record evaluation — no interpretation at run time at all.
  *
  * Sequence semantics: JSONata paths over arrays map implicitly
  * (`readings.t` == list of every t). We reproduce that with transform()
  * when a field step hits array<struct>, flattening one level when the
  * projected field is itself an array (JSONata sequences don't nest).
  *
  * User lambdas (`function($x){...}`) are supported as arguments to the
  * sequence HOFs ($map/$filter/$reduce/$sort/$zip) and compile to Spark
  * higher-order-function lambdas — still zero run-time interpretation.
  *
  * Tier-2 surface (schema-static compilation of the dynamic features):
  *  - `$x := expr` bindings inside block expressions `(e1; e2; ...)` —
  *    value bindings compile to shared Column subtrees, function bindings
  *    (`$f := function($x){...}`) inline at every call site;
  *  - wildcard `*` — enumerated from the static schema: all child values
  *    of a struct (or map_values of a map), unified to one element type;
  *  - descendant `**` followed by a field step — every schema path ending
  *    in that field, at any depth, enumerated at compile time (arrays and
  *    maps traversed with transform), concatenated in document order
  *    (element-major through arrays: each element's matches before the
  *    next element's);
  *  - a lone `**` — every leaf value at any depth, schema-enumerated in
  *    depth-first document order;
  *  - computed object keys `{$k: v}` — compiled to
  *    map<string, unified-value-type> output (map_from_arrays).
  *
  * Documented divergences from full JSONata (degrade in TYPE, never in
  * silent value changes): mixed-type sequences unify to a common type
  * (string in the worst case) instead of staying heterogeneous; a
  * computed-key object constructor yields a map, not an object with
  * per-key types; a lone `**` emits leaf values only (full JSONata also
  * emits the intermediate objects/arrays as items); $string uses Spark's
  * number formatting; $sort comparators cannot signal equality; a bare
  * name directly before ':' in an object constructor is a LITERAL key
  * (`{name: v}` == `{"name": v}`), where jsonata-js evaluates it as a
  * path — write `{(name): v}` to key by the field's value; $decodeUrl /
  * $encodeUrl assume canonical uppercase %XX reserved escapes (a
  * lowercase `%2f` decodes where JS decodeURI leaves it) and use the
  * control characters U+0001/U+0002 as internal protection sentinels —
  * input strings that legitimately contain those two control characters
  * are corrupted (U+0002 becomes '+', U+0001-plus-hex becomes a
  * %-escape); URLs never contain raw control characters, so the pinned
  * divergence is the contract, not a pre-escape pass in the hot path.
  *
  * CONTRACT (decided round 6, was SURVEY §7.4#1's open question): these
  * divergences are permanent; no interpreted-AST / VariantType fallback
  * tier will be built. Rationale: every residual gap is type-level on
  * constructs that are rare in transform pipelines, while an interpreted
  * runtime would abandon whole-stage codegen for ALL expressions routed
  * through it — at the 100 TB design point, a per-record interpreter in
  * the hot path costs more than the fidelity buys. Unsupported constructs
  * keep failing loudly at compile time; the divergences above are pinned
  * by JsonataSpec cases.
  *
  * Builtin coverage (2.0 function library): complete. $formatNumber
  * takes the XPath decimal-format options argument; $formatInteger /
  * $parseInteger support digit (with ';o' ordinal), roman i/I, letter
  * a/A, and English word w/W/Ww pictures; $eval compiles its expression
  * inline and therefore requires a string-LITERAL argument (a
  * runtime-computed expression string would need per-record
  * interpretation, which this contract excludes — it throws at compile
  * time, the only remaining carve-out).
  * ($random/$shuffle delegate to Spark's rand()/shuffle(): valid samples,
  * but like all nondeterministic expressions they may differ across task
  * retries — don't key routing decisions on them.)
  */
object JsonataCompiler {

  case class Typed(col: Column, dt: DataType)

  /** A `$name` binding: a value (Column subtree) or a user function. */
  private sealed trait Binding
  private case class BVal(t: Typed) extends Binding
  private case class BFun(lam: JLambda) extends Binding

  private type Env = Map[String, Binding]

  /** Guard against unbounded inlining of `$f :=` function bindings. */
  private val inlineDepth: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))

  /** Compile memo — the reference compiles its jsonata expression ONCE
    * per process (`jsonata(expr)` at startup, bin/mqtt-streamr.js) and
    * evaluates it per message; this cache gives the same cost model to a
    * long-lived session that re-declares the same transform (every
    * micro-batch plan, every re-run of a registered query): a large
    * builtin-heavy expression costs seconds to compile into its Column
    * tree, and the tree is immutable + unresolved (attributes are bound
    * per-plan during analysis), so reuse across plans is sound. Keyed on
    * (source, input expression, schema) and restricted to UNRESOLVED
    * inputs (see compile); bounded — a pathological generator of
    * distinct transforms degrades to compile-per-call, it cannot leak.
    */
  private val compileCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, DataType), Column]()
  private val CompileCacheMax = 256

  def compile(src: String, input: Column, schema: DataType): Column = {
    // Memoization is sound only for UNRESOLVED inputs: a resolved
    // AttributeReference carries an exprId bound to one plan, and the
    // pretty toString the key uses drops it — two distinct resolved
    // columns (dfA("p") vs dfB("p"), self-join disambiguations) would
    // collide and the cached Column would smuggle the first plan's
    // attribute into the second ("resolved attribute missing"). Resolved
    // inputs compile uncached; all repo callers pass unresolved col("x").
    val cacheable = org.apache.spark.sql.graftbridge.Bridge.expression(input)
      .find(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.AttributeReference]).isEmpty
    if (!cacheable) {
      compileNode(JsonataParser.parse(src), Typed(input, schema), Map.empty).col
    } else {
      val key = (src, input.toString, schema)
      val cached = compileCache.get(key)
      if (cached != null) cached
      else {
        val compiled =
          compileNode(JsonataParser.parse(src), Typed(input, schema), Map.empty).col
        if (compileCache.size < CompileCacheMax) compileCache.put(key, compiled)
        compiled
      }
    }
  }

  // ---- node compilation -------------------------------------------------

  private def compileNode(node: JNode, ctx: Typed, env: Env): Typed = node match {
    case JNumber(v) =>
      if (v == v.floor && v.abs < 1e15) Typed(lit(v.toLong), LongType)
      else Typed(lit(v), DoubleType)
    case JString(v) => Typed(lit(v), StringType)
    case JBool(v) => Typed(lit(v), BooleanType)
    case JNull => Typed(lit(null).cast(StringType), NullType)
    case JContext => ctx
    case JVarRef(name) => env.get(name) match {
      case Some(BVal(t)) => t
      case Some(BFun(_)) => throw new JsonataCompileError(
        s"$$$name is bound to a function; call it: $$$name(...)")
      case None => throw new JsonataCompileError(
        s"unbound variable $$$name (bind with ($$$name := ...; ...) or a lambda parameter)")
    }
    case _: JLambda => throw new JsonataCompileError(
      "a lambda is only legal as a function argument or a $var := binding")
    case JBlock(exprs) =>
      // bindings scope over the remaining exprs; block value = last expr
      var e = env
      var last: Option[Typed] = None
      exprs.foreach {
        case JBind(n, v) =>
          val b = bindingOf(v, ctx, e)
          e += (n -> b)
          last = b match { case BVal(t) => Some(t); case BFun(_) => None }
        case other => last = Some(compileNode(other, ctx, e))
      }
      last.getOrElse(throw new JsonataCompileError(
        "a block ending in a function binding has no value"))
    case JBind(_, v) =>
      // a bare binding outside a block: its value is the bound value
      bindingOf(v, ctx, env) match {
        case BVal(t) => t
        case BFun(_) => throw new JsonataCompileError(
          "a function binding needs a block to be called in: ($f := ...; $f(x))")
      }
    case JPath(steps) => compileSteps(steps, ctx, env)
    case JUnaryMinus(e) =>
      val t = num(compileNode(e, ctx, env))
      Typed(-t.col, t.dt)
    case JCond(c, t, e) =>
      val tc = compileNode(t, ctx, env)
      val ec = compileNode(e, ctx, env)
      val dt = unify(tc.dt, ec.dt)
      Typed(when(bool(compileNode(c, ctx, env)), cast(tc, dt)).otherwise(cast(ec, dt)), dt)
    case JBinary(op, l, r) => binary(op, l, r, ctx, env)
    case JObject(fields) if fields.forall(_._1.isInstanceOf[JKeyLit]) =>
      val compiled = fields.map { case (k, v) =>
        k.asInstanceOf[JKeyLit].name -> compileNode(v, ctx, env)
      }
      Typed(
        struct(compiled.map { case (k, t) => t.col.as(k) }: _*),
        StructType(compiled.map { case (k, t) => StructField(k, t.dt) }))
    case JObject(fields) =>
      // computed keys: the output shape is not static, so the typed
      // degradation is map<string, unified-value-type>. Two keys
      // evaluating to the same string raise at run time (Spark's default
      // mapKeyDedupPolicy=EXCEPTION), matching JSONata's D1009 error.
      val keys = fields.map {
        case (JKeyLit(n), _) => lit(n)
        case (JKeyExpr(e), _) => str(compileNode(e, ctx, env))
      }
      val vals = fields.map { case (_, v) => compileNode(v, ctx, env) }
      val vt = vals.map(_.dt).reduceOption(unify).getOrElse(StringType)
      Typed(
        map_from_arrays(array(keys: _*), array(vals.map(cast(_, vt)): _*)),
        MapType(StringType, vt))
    case JArray(items) =>
      val compiled = items.map(compileNode(_, ctx, env))
      val dt = compiled.map(_.dt).reduceOption(unify).getOrElse(StringType)
      Typed(array(compiled.map(cast(_, dt)): _*), ArrayType(dt))
    case JFunc("__chain", base :: steps) =>
      steps.foldLeft(compileNode(base, ctx, env)) { (acc, s) =>
        s match {
          case JNumber(i) => step(acc, JIndex(i.toInt), env)
          case JString(f) => step(acc, JField(f), env)
          case JFunc("__pred", List(p)) => step(acc, JPredicate(p), env)
          case JFunc("__wild", Nil) => step(acc, JWildcard, env)
          case other => throw new JsonataCompileError(s"bad chain step $other")
        }
      }
    case JFunc(name, args) => function(name, args, ctx, env)
  }

  /** Compile a binding's right-hand side: lambdas (and references to
    * already-bound functions) bind as functions, everything else compiles
    * eagerly to a value.
    */
  private def bindingOf(v: JNode, ctx: Typed, env: Env): Binding = v match {
    case l: JLambda => BFun(l)
    case JVarRef(n) if env.get(n).exists(_.isInstanceOf[BFun]) => env(n)
    case other => BVal(compileNode(other, ctx, env))
  }

  // ---- path steps -------------------------------------------------------

  /** Left-fold of path steps. `**` followed by a field step is the
    * descendant search for that field; a `**` with no following field is
    * the full leaf-value enumeration ([[descendLeaves]]). All other steps
    * go through [[step]].
    */
  private def compileSteps(steps: List[JStep], ctx: Typed, env: Env): Typed =
    steps match {
      case Nil => ctx
      case JDescendant :: JField(name) :: rest =>
        compileSteps(rest, descend(ctx, name), env)
      case JDescendant :: rest =>
        compileSteps(rest, descendLeaves(ctx), env)
      case s :: rest => compileSteps(rest, step(ctx, s, env), env)
    }

  private def step(ctx: Typed, s: JStep, env: Env): Typed = s match {
    case JWildcard => wildcard(ctx)
    case JDescendant => descendLeaves(ctx)
    case JField(name) => ctx.dt match {
      case st: StructType =>
        st.find(_.name == name) match {
          case Some(f) => Typed(ctx.col.getField(name), f.dataType)
          case None => throw new JsonataCompileError(
            s"field '$name' not in schema ${st.simpleString}")
        }
      case ArrayType(st: StructType, _) =>
        val f = st.find(_.name == name).getOrElse(throw new JsonataCompileError(
          s"field '$name' not in schema ${st.simpleString}"))
        f.dataType match {
          case ArrayType(inner, _) =>
            // JSONata sequences flatten one level
            Typed(flatten(transform(ctx.col, x => x.getField(name))), ArrayType(inner))
          case dt =>
            Typed(transform(ctx.col, x => x.getField(name)), ArrayType(dt))
        }
      case other => throw new JsonataCompileError(
        s"cannot navigate field '$name' on ${other.simpleString}")
    }
    case JIndex(i) => ctx.dt match {
      case ArrayType(et, _) =>
        // JSONata is 0-based; element_at is 1-based with negative-from-end.
        // try_element_at: out-of-range gives null (JSONata: undefined),
        // not an ANSI-mode error.
        val pos = if (i >= 0) i + 1 else i
        Typed(try_element_at(ctx.col, lit(pos)), et)
      case dt =>
        // singleton sequence: [0] is identity, anything else empty
        if (i == 0) ctx else Typed(lit(null).cast(dt), dt)
    }
    case JPredicate(p) => ctx.dt match {
      case ArrayType(et, _) =>
        Typed(filter(ctx.col, x => bool(compileNode(p, Typed(x, et), env))), ctx.dt)
      case dt =>
        Typed(when(bool(compileNode(p, ctx, env)), ctx.col), dt)
    }
  }

  /** `*` — all child values as a sequence, enumerated from the schema.
    * Mixed child types unify ([[unify]]); array-valued children flatten
    * (JSONata sequences don't nest); nulls (absent fields) drop out.
    */
  private def wildcard(ctx: Typed): Typed = ctx.dt match {
    case st: StructType =>
      if (st.fields.isEmpty)
        throw new JsonataCompileError("`*` on an empty object schema")
      combine(st.fields.toSeq.map(f => Typed(ctx.col.getField(f.name), f.dataType)))
    case MapType(_, vt, _) =>
      combine(Seq(Typed(map_values(ctx.col), ArrayType(vt))))
    case ArrayType(st: StructType, _) =>
      // sequence of objects: element-major document order (each element's
      // field values in schema order, then the next element's) — NOT all
      // field1 values then all field2 values
      if (st.fields.isEmpty)
        throw new JsonataCompileError("`*` on an empty object schema")
      val sites = st.fields.toSeq.map(f =>
        ((c: Column) => c.getField(f.name), f.dataType))
      val (acc, dt) = elementMajor(sites)
      Typed(acc(ctx.col), dt)
    case other => throw new JsonataCompileError(
      s"`*` needs an object (struct/map) schema, got ${other.simpleString}")
  }

  /** `**.name` — every value of a field called `name` at ANY depth,
    * enumerated statically from the schema (depth-first, document order).
    * Arrays and maps along the way are traversed with transform(), so the
    * whole search stays a single codegen'd expression — no runtime
    * schema walk, no UDF.
    */
  private def descend(ctx: Typed, name: String): Typed = {
    val sites = descendSites(ctx.dt, name)
    if (sites.isEmpty) throw new JsonataCompileError(
      s"`**.$name`: no field '$name' at any depth in ${ctx.dt.simpleString}")
    combine(sites.map { case (accessor, dt) => Typed(accessor(ctx.col), dt) })
  }

  /** All accessors reaching a field named `name`, with their types. */
  private def descendSites(dt: DataType, name: String): Seq[(Column => Column, DataType)] =
    dt match {
      case st: StructType =>
        st.fields.toSeq.flatMap { f =>
          val self: Seq[(Column => Column, DataType)] =
            if (f.name == name) Seq(((c: Column) => c.getField(f.name), f.dataType)) else Nil
          self ++ descendSites(f.dataType, name).map { case (a, d) =>
            ((c: Column) => a(c.getField(f.name)), d)
          }
        }
      case ArrayType(et, _) =>
        descendSites(et, name) match {
          case Nil => Nil
          case inner => Seq(elementMajor(inner))
        }
      case MapType(_, vt, _) =>
        descendSites(vt, name) match {
          case Nil => Nil
          case inner =>
            val (a, d) = elementMajor(inner)
            Seq(((c: Column) => a(map_values(c)), d))
        }
      case _ => Nil
    }

  /** Merge the per-element match sites of an array into ONE element-major
    * site: each array element contributes ALL its matches (in document
    * order) before the next element's — JSONata's sequence order, not the
    * site-major order a per-site transform() would produce.
    */
  private def elementMajor(inner: Seq[(Column => Column, DataType)])
      : (Column => Column, DataType) = {
    val uet = inner.map { case (_, d) => flatElem(d) }.reduce(unify)
    ((c: Column) => flatten(filter(
      transform(c, x => combine(inner.map { case (a, d) => Typed(a(x), d) }).col),
      e => e.isNotNull)),
      ArrayType(uet))
  }

  /** A lone `**` — every leaf (atomic) value at any depth, enumerated
    * statically from the schema in depth-first document order. Typed
    * degradation (documented): intermediate objects/arrays themselves are
    * NOT emitted as sequence items (full JSONata includes them); values
    * unify to one element type.
    */
  private def descendLeaves(ctx: Typed): Typed = {
    val sites = leafSites(ctx.dt)
    if (sites.isEmpty) throw new JsonataCompileError(
      s"`**` found no leaf values in ${ctx.dt.simpleString}")
    combine(sites.map { case (a, d) => Typed(a(ctx.col), d) })
  }

  /** Accessors for every atomic-typed value reachable at any depth. */
  private def leafSites(dt: DataType): Seq[(Column => Column, DataType)] = dt match {
    case st: StructType =>
      st.fields.toSeq.flatMap { f =>
        leafSites(f.dataType).map { case (a, d) =>
          ((c: Column) => a(c.getField(f.name)), d)
        }
      }
    case ArrayType(et, _) =>
      leafSites(et) match {
        case Nil => Nil
        case inner => Seq(elementMajor(inner))
      }
    case MapType(_, vt, _) =>
      leafSites(vt) match {
        case Nil => Nil
        case inner =>
          val (a, d) = elementMajor(inner)
          Seq(((c: Column) => a(map_values(c)), d))
      }
    case atomic => Seq(((c: Column) => c, atomic))
  }

  /** Element type after full flattening (scalar = itself). */
  private def flatElem(dt: DataType): DataType = dt match {
    case ArrayType(inner, _) => flatElem(inner)
    case d => d
  }

  /** Concatenate heterogeneous values/sequences into one flat sequence of
    * a unified element type, dropping nulls (JSONata: undefined vanishes
    * from sequences). NULL sub-sequences (absent subtrees) contribute
    * nothing rather than nulling the whole concat.
    */
  private def combine(items: Seq[Typed]): Typed = {
    val flat = items.map(fullyFlatten)
    val et = flat.map(_.dt.asInstanceOf[ArrayType].elementType).reduce(unify)
    val parts = flat.map(t =>
      coalesce(t.col.cast(ArrayType(et)), array().cast(ArrayType(et))))
    val cat = if (parts.length == 1) parts.head else concat(parts: _*)
    Typed(filter(cat, x => x.isNotNull), ArrayType(et))
  }

  /** Scalar -> singleton array; nested arrays -> flattened one array.
    * Null sub-arrays (absent subtrees) are dropped first — Spark's
    * flatten() yields NULL if any element is NULL.
    */
  private def fullyFlatten(t: Typed): Typed = t.dt match {
    case ArrayType(inner: ArrayType, _) =>
      fullyFlatten(Typed(flatten(filter(t.col, x => x.isNotNull)), inner))
    case ArrayType(_, _) => t
    case dt => Typed(array(t.col), ArrayType(dt))
  }

  // ---- operators --------------------------------------------------------

  private def binary(op: String, ln: JNode, rn: JNode, ctx: Typed, env: Env): Typed = {
    lazy val l = compileNode(ln, ctx, env)
    lazy val r = compileNode(rn, ctx, env)
    op match {
      case "+" | "-" | "*" | "/" | "%" =>
        val (a, b) = (num(l), num(r))
        val dt = if (a.dt == LongType && b.dt == LongType && op != "/") LongType else DoubleType
        val (ac, bc) = (cast(a, dt), cast(b, dt))
        val c = op match {
          case "+" => ac + bc
          case "-" => ac - bc
          case "*" => ac * bc
          case "/" => ac / bc
          case "%" => ac % bc
        }
        Typed(c, dt)
      case "&" =>
        Typed(concat(str(l), str(r)), StringType)
      case "=" => Typed(cmp(l, r, _ === _), BooleanType)
      case "!=" => Typed(cmp(l, r, _ =!= _), BooleanType)
      case "<" => Typed(cmp(l, r, _ < _), BooleanType)
      case "<=" => Typed(cmp(l, r, _ <= _), BooleanType)
      case ">" => Typed(cmp(l, r, _ > _), BooleanType)
      case ">=" => Typed(cmp(l, r, _ >= _), BooleanType)
      case "in" => r.dt match {
        case ArrayType(_, _) => Typed(array_contains(r.col, l.col), BooleanType)
        case _ => Typed(l.col === r.col, BooleanType)
      }
      case "and" => Typed(bool(l) && bool(r), BooleanType)
      case "or" => Typed(bool(l) || bool(r), BooleanType)
      case other => throw new JsonataCompileError(s"unsupported operator '$other'")
    }
  }

  private def cmp(l: Typed, r: Typed, f: (Column, Column) => Column): Column =
    (l.dt, r.dt) match {
      case (a, b) if isNumeric(a) && isNumeric(b) =>
        f(l.col.cast(DoubleType), r.col.cast(DoubleType))
      case _ => f(l.col, r.col)
    }

  // ---- $function library ------------------------------------------------

  private def function(name: String, args: List[JNode], ctx: Typed, env: Env): Typed = {
    def arg(i: Int): Typed = compileNode(args(i), ctx, env)
    def argOpt(i: Int): Option[Typed] = args.lift(i).map(compileNode(_, ctx, env))
    def arity(n: Int*): Unit =
      if (!n.contains(args.length)) throw new JsonataCompileError(
        s"$$$name expects ${n.mkString("/")} args, got ${args.length}")

    /** A function-valued argument: a lambda literal, a `$f :=`-bound user
      * function, or a builtin passed by name ($map(arr, $uppercase)).
      */
    def lambdaOf(n: JNode): JLambda = n match {
      case l: JLambda => l
      case JVarRef(fn) => env.get(fn) match {
        case Some(BFun(l)) => l
        case Some(BVal(_)) => throw new JsonataCompileError(
          s"$$$fn is bound to a value, not a function")
        case None => JLambda(List("__x"), JFunc(fn, List(JVarRef("__x"))))
      }
      case other => throw new JsonataCompileError(s"expected a function argument, got $other")
    }

    /** Bind lambda params (value [, index]) and compile the body. */
    def applyLambda(lam: JLambda, bindings: List[Typed]): Typed = {
      if (lam.params.length > bindings.length)
        throw new JsonataCompileError(
          s"lambda takes ${lam.params.length} params; only ${bindings.length} available here")
      compileNode(lam.body, ctx,
        env ++ lam.params.zip(bindings.map(BVal(_): Binding)).toMap)
    }

    // a `$f := function(...)` binding shadows the builtin library: calls
    // inline the lambda body at the call site (zero runtime dispatch)
    env.get(name) match {
      case Some(BFun(lam)) =>
        if (lam.params.length != args.length) throw new JsonataCompileError(
          s"$$$name expects ${lam.params.length} args, got ${args.length}")
        // inlining has no call stack: recursive bindings can't terminate
        val depth = inlineDepth.get()
        if (depth > 64) throw new JsonataCompileError(
          s"$$$name: recursive (or too deeply nested) function bindings are not " +
            "supported — compiled expressions have no runtime call stack")
        inlineDepth.set(depth + 1)
        try return applyLambda(lam, args.map(compileNode(_, ctx, env)))
        finally inlineDepth.set(depth)
      case _ => ()
    }

    name match {
      // string
      case "uppercase" => arity(1); Typed(upper(str(arg(0))), StringType)
      case "lowercase" => arity(1); Typed(lower(str(arg(0))), StringType)
      case "trim" => arity(1); Typed(trim(str(arg(0))), StringType)
      case "length" => arity(1); Typed(length(str(arg(0))).cast(LongType), LongType)
      case "substring" =>
        arity(2, 3)
        val s = str(arg(0))
        val start = num(arg(1)).col.cast(IntegerType)
        val pos = when(start >= 0, start + 1).otherwise(greatest(length(s) + start + 1, lit(1)))
        val len = argOpt(2).map(t => num(t).col.cast(IntegerType)).getOrElse(length(s))
        Typed(s.substr(pos, len), StringType)
      case "substringBefore" =>
        arity(2); Typed(substring_index(str(arg(0)), litStr(args(1)), 1), StringType)
      case "substringAfter" =>
        arity(2)
        val s = str(arg(0))
        val sep = litStr(args(1))
        val pos = instr(s, sep)
        Typed(when(pos === 0, s).otherwise(s.substr(pos + sep.length, length(s))), StringType)
      case "contains" => arity(2); Typed(str(arg(0)).contains(litStr(args(1))), BooleanType)
      // $encodeUrlComponent/$decodeUrlComponent map to Spark's
      // url_encode/url_decode (application/x-www-form-urlencoded; the
      // space→'+' difference from JS encodeURIComponent is documented)
      case "encodeUrlComponent" =>
        arity(1); Typed(url_encode(str(arg(0))), StringType)
      case "decodeUrlComponent" =>
        arity(1); Typed(url_decode(str(arg(0))), StringType)
      case "split" =>
        arity(2, 3)
        val quoted = java.util.regex.Pattern.quote(litStr(args(1)))
        val parts = split(str(arg(0)), quoted)
        Typed(argOpt(2).map(l => slice(parts, lit(1), num(l).col.cast(IntegerType))).getOrElse(parts),
          ArrayType(StringType))
      case "join" =>
        arity(1, 2)
        val sep = args.lift(1).map(litStr).getOrElse("")
        Typed(array_join(arg(0).col.cast(ArrayType(StringType)), sep), StringType)
      case "replace" =>
        arity(3)
        Typed(regexp_replace(str(arg(0)),
          java.util.regex.Pattern.quote(litStr(args(1))),
          java.util.regex.Matcher.quoteReplacement(litStr(args(2)))), StringType)
      case "pad" =>
        arity(2, 3)
        val s = str(arg(0))
        val w = num(arg(1)).col.cast(IntegerType)
        val p = args.lift(2).map(litStr).getOrElse(" ")
        Typed(when(w >= 0, rpad(s, w, lit(p))).otherwise(lpad(s, -w, lit(p))), StringType)
      case "string" => arity(1); Typed(str(arg(0)), StringType)

      // numeric
      case "number" => arity(1); Typed(arg(0).col.cast(DoubleType), DoubleType)
      case "abs" => arity(1); val t = num(arg(0)); Typed(abs(t.col), t.dt)
      case "floor" => arity(1); Typed(floor(num(arg(0)).col).cast(LongType), LongType)
      case "ceil" => arity(1); Typed(ceil(num(arg(0)).col).cast(LongType), LongType)
      case "round" =>
        arity(1, 2)
        val p = args.lift(1) match {
          case Some(JNumber(n)) => n.toInt
          case None => 0
          case _ => throw new JsonataCompileError("$round precision must be a literal")
        }
        // JSONata rounds half-to-even (banker's), like bround — NOT half-up
        Typed(bround(num(arg(0)).col, p), DoubleType)
      case "power" => arity(2); Typed(pow(num(arg(0)).col, num(arg(1)).col), DoubleType)
      case "sqrt" => arity(1); Typed(sqrt(num(arg(0)).col), DoubleType)
      case "formatBase" =>
        arity(1, 2)
        val radix = args.lift(1) match {
          case Some(JNumber(n)) => n.toInt
          case None => 10
          case _ => throw new JsonataCompileError("$formatBase radix must be a literal")
        }
        // JSONata emits lowercase digits; Spark conv uppercases
        Typed(lower(conv(num(arg(0)).col.cast(LongType), 10, radix)), StringType)
      // $encodeUrl/$decodeUrl: JS encodeURI/decodeURI semantics on top of
      // url_encode/url_decode. URLEncoder escapes the URI-reserved set and
      // the JS "mark" chars that encodeURI keeps literal (and maps
      // ' '→'+'), so encode = url_encode, remap '+'→%20, then restore each
      // kept char from its escape. decode = protect the reserved escapes
      // (decodeURI leaves them encoded; canonical uppercase %XX assumed)
      // and literal '+', url_decode, restore. The protection sentinels are
      // U+0001/U+0002 — inputs containing those raw control characters are
      // corrupted; pinned divergence, see the contract header above.
      case "encodeUrl" =>
        arity(1)
        val kept = Seq(
          "%3B" -> ";", "%2C" -> ",", "%2F" -> "/", "%3F" -> "?",
          "%3A" -> ":", "%40" -> "@", "%26" -> "&", "%3D" -> "=",
          "%2B" -> "+", "%24" -> "$", "%23" -> "#", "%21" -> "!",
          "%7E" -> "~", "%27" -> "'", "%28" -> "(", "%29" -> ")")
        val enc = kept.foldLeft(
          regexp_replace(url_encode(str(arg(0))), "\\+", "%20")) {
          case (c, (esc, ch)) =>
            regexp_replace(c, esc, java.util.regex.Matcher.quoteReplacement(ch))
        }
        Typed(enc, StringType)
      case "decodeUrl" =>
        arity(1)
        val keptHex = Seq("23", "24", "26", "2B", "2C", "2F", "3A", "3B", "3D", "3F", "40")
        val guarded = regexp_replace(
          keptHex.foldLeft(str(arg(0))) { (c, h) =>
            regexp_replace(c, "%" + h, "" + h)
          }, "\\+", "")
        val decoded = url_decode(guarded)
        val restored = keptHex.foldLeft(regexp_replace(decoded, "", "+")) {
          (c, h) => regexp_replace(c, "" + h, "%" + h)
        }
        Typed(restored, StringType)
      // $formatNumber: the XPath picture subset shared with Java's
      // DecimalFormat ('#,##0.00', '0.###E0', '%', '‰') via Spark's
      // format_number(expr, fmt). The 3rd argument is the XPath
      // decimal-format properties object (public JSONata semantics:
      // docs.jsonata.org/string-functions#formatnumber) — a compile-time
      // literal object overriding formatting characters. Compiled fully
      // statically: the picture's custom characters are standardized
      // before format_number sees it, and the formatted OUTPUT's standard
      // characters are translated to the custom ones with one codegen'd
      // translate() (simultaneous per-char mapping, so separator swaps
      // like {decimal: ',', grouping: '.'} are safe). The multi-char
      // 'infinity'/'NaN' strings wrap the result in when() guards only
      // when given. Non-literal options compile-error — never silently
      // ignored.
      case "formatNumber" =>
        arity(2, 3)
        val charOpts = Map( // single-char XPath properties and defaults
          "decimal-separator" -> '.', "grouping-separator" -> ',',
          "minus-sign" -> '-', "percent" -> '%', "per-mille" -> '‰',
          "zero-digit" -> '0', "digit" -> '#', "pattern-separator" -> ';',
          "exponent-separator" -> 'E')
        val opts: Map[String, String] =
          if (args.length < 3) Map.empty
          else args(2) match {
            case JObject(fields) => fields.map {
              case (JKeyLit(k), JString(v)) => k -> v
              case (k, v) => throw new JsonataCompileError(
                s"$$formatNumber options must be literal string fields, got $k: $v")
            }.toMap
            case other => throw new JsonataCompileError(
              s"$$formatNumber options must be an object literal, got $other")
          }
        opts.keys.find(k => !charOpts.contains(k) && k != "infinity" && k != "NaN")
          .foreach(k => throw new JsonataCompileError(
            s"$$formatNumber: unknown option '$k'"))
        for ((k, v) <- opts if charOpts.contains(k) && v.length != 1)
          throw new JsonataCompileError(
            s"$$formatNumber: option '$k' must be a single character, got '$v'")
        // XPath decimal-format constraints, enforced at COMPILE time so a
        // bad config never becomes a per-row runtime throw. zero-digit:
        // XPath requires a digit with value 0; this compiler's documented
        // extension also accepts a NON-digit base char whose contiguous
        // +0..+9 range forms the family (the circled-digit case, U+245F)
        // — but a real digit with a NONZERO value is always an error
        // (its family would straddle the actual digits).
        for (z <- opts.get("zero-digit").map(_.head))
          if (Character.digit(z, 10) > 0)
            throw new JsonataCompileError(
              s"$$formatNumber: zero-digit must have digit value 0 (or be a " +
                s"non-digit family base), got '$z'")
        val effectiveChar: Map[String, Char] = charOpts.map { case (k, d) =>
          k -> opts.get(k).map(_.head).getOrElse(d)
        }
        val zeroDigit = effectiveChar("zero-digit")
        val digitFamily = (zeroDigit to (zeroDigit + 9).toChar).toSet
        val distinctProps = Seq("decimal-separator", "grouping-separator",
          "percent", "per-mille", "digit", "pattern-separator",
          "exponent-separator").map(k => k -> effectiveChar(k))
        distinctProps.groupBy(_._2).collectFirst {
          case (c, ps) if ps.size > 1 =>
            throw new JsonataCompileError(
              s"$$formatNumber: formatting characters must be distinct — " +
                s"${ps.map(_._1).mkString(" and ")} both resolve to '$c'")
        }
        for ((k, c) <- distinctProps if digitFamily.contains(c))
          throw new JsonataCompileError(
            s"$$formatNumber: '$k' ('$c') collides with the digit family " +
              s"of zero-digit '$zeroDigit'")
        def digitRange(z: Char): Seq[(Char, Char)] =
          (0 to 9).map(i => (z + i).toChar -> ('0' + i).toChar)
        // picture: custom chars -> standard, so DecimalFormat parses it
        val picMap: Map[Char, Char] = opts.collect {
          case (k, v) if charOpts.contains(k) && k != "zero-digit" =>
            v.head -> charOpts(k)
        } ++ opts.get("zero-digit").toSeq.flatMap(z => digitRange(z.head))
        val pic = litStr(args(1)).map(c => picMap.getOrElse(c, c))
        val x = num(arg(0)).col
        val formatted = call_function("format_number", x, lit(pic))
        // output: standard chars -> custom, one simultaneous translate
        val outPairs: Seq[(Char, Char)] = opts.toSeq.collect {
          case (k, v) if charOpts.contains(k) && k != "zero-digit" =>
            charOpts(k) -> v.head
        } ++ opts.get("zero-digit").toSeq.flatMap(z =>
          digitRange(z.head).map(_.swap))
        val translated =
          if (outPairs.isEmpty) formatted
          else translate(formatted,
            outPairs.map(_._1).mkString, outPairs.map(_._2).mkString)
        val minus = opts.get("minus-sign").map(_.head).getOrElse('-')
        val withInf = opts.get("infinity").map(s =>
          when(x === Double.PositiveInfinity, lit(s))
            .when(x === Double.NegativeInfinity, lit(s"$minus$s"))
            .otherwise(translated)).getOrElse(translated)
        val result = opts.get("NaN").map(s =>
          when(isnan(x), lit(s)).otherwise(withInf)).getOrElse(withInf)
        Typed(result, StringType)
      case "formatInteger" =>
        arity(2)
        val n = num(arg(0)).col.cast(LongType)
        val (pic, ordinal) = splitPicture(name, litStr(args(1)))
        pic match {
          case "i" | "I" =>
            val roman = romanColumn(n)
            Typed(if (pic == "i") lower(roman) else roman, StringType)
          case "w" | "W" | "Ww" =>
            // XPath fn:format-integer semantics as implemented by the
            // jsonata-js engine the reference delegates to: British
            // "and", ", " between magnitude groups, hyphenated tens.
            // Bounded closed-form (no recursion): |n| < 10^15, guarded
            // with a loud raise_error beyond.
            val w = when(abs(n) >= 1000000000000000L,
              raise_error(lit("$formatInteger word pictures support |n| < 10^15"))
                .cast(StringType))
              .otherwise(wordsColumn(n, ordinal))
            Typed(pic match {
              case "w" => lower(w)
              case "W" => upper(w)
              case _   => w
            }, StringType)
          case "a" | "A" =>
            Typed(lettersColumn(n, if (pic == "a") 'a' else 'A'), StringType)
          case p if p.nonEmpty && p.forall(c => c.isDigit || c == '#' || c == ',') =>
            // any mandatory-digit char standardizes to '0' (same width
            // semantics); ';o' appends the English ordinal suffix
            val std = p.map(c => if (c.isDigit) '0' else c)
            val formatted = call_function("format_number", n, lit(std))
            Typed(if (ordinal) concat(formatted, ordinalSuffix(n)) else formatted,
              StringType)
          case other =>
            throw new JsonataCompileError(
              s"$$formatInteger picture '$other' not supported " +
                "(digit pictures, i/I roman, a/A letters, w/W/Ww words)")
        }
      case "parseInteger" =>
        arity(2)
        val (pPic, _) = splitPicture(name, litStr(args(1)))
        pPic match {
          case "i" | "I" =>
            val vals = transform(split(upper(str(arg(0))), ""),
              c => element_at(romanValues, c))
            val nCh = size(vals)
            // subtractive rule: a numeral smaller than its successor counts negative
            Typed(aggregate(sequence(lit(1), nCh), lit(0L), (acc, i) =>
              acc + when(i < nCh && element_at(vals, i) < element_at(vals, i + 1),
                -element_at(vals, i)).otherwise(element_at(vals, i))), LongType)
          case "w" | "W" | "Ww" =>
            Typed(parseWordsColumn(str(arg(0))), LongType)
          case "a" | "A" =>
            // inverse bijective base-26: fold chars as n*26 + (ch - base + 1)
            val chars = split(lower(str(arg(0))), "")
            Typed(aggregate(chars, lit(0L), (acc, c) =>
              acc * 26L + (ascii(c).cast(LongType) - lit('a'.toLong) + 1L)), LongType)
          case pic if pic.nonEmpty && pic.forall(c => c.isDigit || c == '#' || c == ',') =>
            Typed(regexp_replace(str(arg(0)), "[^0-9-]", "").cast(LongType), LongType)
          case other =>
            throw new JsonataCompileError(
              s"$$parseInteger picture '$other' not supported " +
                "(digit pictures, i/I roman, a/A letters, w/W/Ww words)")
        }

      // aggregation over sequences
      case "sum" => arity(1); Typed(aggNum(arg(0), (acc, x) => acc + x), DoubleType)
      case "max" => arity(1); Typed(array_max(numArr(arg(0))), DoubleType)
      case "min" => arity(1); Typed(array_min(numArr(arg(0))), DoubleType)
      case "average" =>
        arity(1)
        val a = arg(0)
        Typed(aggNum(a, (acc, x) => acc + x) / size(a.col), DoubleType)
      case "count" =>
        arity(1)
        val a = try arg(0) catch {
          case _: JsonataCompileError => return Typed(lit(0L), LongType)
        }
        a.dt match {
          case ArrayType(_, _) => Typed(coalesce(size(a.col).cast(LongType), lit(0L)), LongType)
          case _ => Typed(when(a.col.isNull, 0L).otherwise(1L), LongType)
        }

      // sequence HOFs with user lambdas
      case "map" =>
        arity(2)
        val a = asArr(arg(0))
        val et = a.dt.asInstanceOf[ArrayType].elementType
        val lam = lambdaOf(args(1))
        var outDt: DataType = NullType
        val out = transform(a.col, (x, i) => {
          val t = applyLambda(lam, List(Typed(x, et), Typed(i.cast(LongType), LongType)))
          outDt = t.dt
          t.col
        })
        Typed(out, ArrayType(outDt))
      case "filter" =>
        arity(2)
        val a = asArr(arg(0))
        val et = a.dt.asInstanceOf[ArrayType].elementType
        val lam = lambdaOf(args(1))
        Typed(filter(a.col, (x, i) =>
          bool(applyLambda(lam, List(Typed(x, et), Typed(i.cast(LongType), LongType))))), a.dt)
      case "single" =>
        // $single(arr, fn) — the lone matching element; a runtime error
        // (raise_error, like jsonata-js throwing) unless exactly one
        // element satisfies fn
        arity(2)
        val a = asArr(arg(0))
        val et = a.dt.asInstanceOf[ArrayType].elementType
        val lam = lambdaOf(args(1))
        val matched = filter(a.col, (x, i) =>
          bool(applyLambda(lam, List(Typed(x, et), Typed(i.cast(LongType), LongType)))))
        Typed(
          when(size(matched) === 1, element_at(matched, 1))
            .otherwise(raise_error(
              concat(lit("$single: expected exactly 1 match, got "),
                size(matched).cast(StringType))).cast(et)),
          et)
      case "error" =>
        // $error(msg) — unconditional runtime error; never returns, so
        // the static type is a free choice (string)
        arity(0, 1)
        val msg = argOpt(0).map(t => str(t)).getOrElse(lit("$error"))
        Typed(raise_error(msg).cast(StringType), StringType)
      case "assert" =>
        // $assert(cond, msg) — raise unless cond; returns true (JSONata
        // returns undefined, which has no typed representation here)
        arity(2)
        Typed(
          when(bool(arg(0)), lit(true))
            .otherwise(raise_error(str(arg(1))).cast(BooleanType)),
          BooleanType)
      case "sift" =>
        // $sift(obj, function($v [, $k])) — filter an OBJECT's entries.
        // Output shape is dynamic (keys survive conditionally), so the
        // typed degradation is a map<string, unified-value-type>.
        arity(2)
        val lam = lambdaOf(args(1))
        arg(0).dt match {
          case st: StructType =>
            val vt = st.fields.map(_.dataType).reduceOption(unify).getOrElse(StringType)
            val asMap = map_from_arrays(
              array(st.fieldNames.toIndexedSeq.map(lit(_)): _*),
              array(st.fields.toSeq.map(f => arg(0).col.getField(f.name).cast(vt)): _*))
            Typed(map_filter(asMap, (k, v) =>
              bool(applyLambda(lam, List(Typed(v, vt), Typed(k, StringType))))),
              MapType(StringType, vt))
          case MapType(kt, vt, _) =>
            Typed(map_filter(arg(0).col, (k, v) =>
              bool(applyLambda(lam, List(Typed(v, vt), Typed(k, kt))))), MapType(kt, vt))
          case other => throw new JsonataCompileError(s"$$sift on ${other.simpleString}")
        }
      case "reduce" =>
        arity(2, 3)
        val a = asArr(arg(0))
        val et = a.dt.asInstanceOf[ArrayType].elementType
        val lam = lambdaOf(args(1))
        val (seqCol, init) = argOpt(2) match {
          case Some(i) => (a.col, i)
          // JSONata: no init -> fold starts from the first element
          case None => (slice(a.col, lit(2), greatest(size(a.col) - 1, lit(0))),
            Typed(try_element_at(a.col, lit(1)), et))
        }
        val accDt = unify(init.dt, et)
        var bodyDt: DataType = accDt
        val out = aggregate(seqCol, cast(init, accDt), (acc, x) => {
          val t = applyLambda(lam, List(Typed(acc, accDt), Typed(x, et)))
          bodyDt = t.dt
          cast(t, accDt)
        })
        if (!compatible(bodyDt, accDt))
          throw new JsonataCompileError(
            s"$$reduce body yields ${bodyDt.simpleString}, accumulator is ${accDt.simpleString}")
        Typed(out, accDt)
      case "zip" =>
        arity(2)
        val (a, b) = (asArr(arg(0)), asArr(arg(1)))
        val dt = unify(a.dt.asInstanceOf[ArrayType].elementType,
          b.dt.asInstanceOf[ArrayType].elementType)
        Typed(zip_with(a.col.cast(ArrayType(dt)), b.col.cast(ArrayType(dt)),
          (x, y) => array(x, y)), ArrayType(ArrayType(dt)))

      // arrays
      case "append" =>
        arity(2)
        val (a, b) = (asArr(arg(0)), asArr(arg(1)))
        val dt = unify(a.dt.asInstanceOf[ArrayType].elementType,
          b.dt.asInstanceOf[ArrayType].elementType)
        Typed(concat(a.col.cast(ArrayType(dt)), b.col.cast(ArrayType(dt))), ArrayType(dt))
      case "sort" =>
        arity(1, 2)
        val a = asArr(arg(0))
        args.lift(1) match {
          case None => Typed(array_sort(a.col), a.dt)
          case Some(cmpArg) =>
            val et = a.dt.asInstanceOf[ArrayType].elementType
            val lam = lambdaOf(cmpArg)
            // JSONata comparator: true => left sorts AFTER right
            Typed(array_sort(a.col, (l, r) =>
              when(bool(applyLambda(lam, List(Typed(l, et), Typed(r, et)))), 1).otherwise(-1)),
              a.dt)
        }
      case "reverse" => arity(1); val a = asArr(arg(0)); Typed(reverse(a.col), a.dt)
      case "distinct" => arity(1); val a = asArr(arg(0)); Typed(array_distinct(a.col), a.dt)
      case "shuffle" => arity(1); val a = asArr(arg(0)); Typed(shuffle(a.col), a.dt)
      case "random" => arity(0); Typed(rand(), DoubleType)

      // regex (pattern is a string literal; JSONata regex literals /../
      // are not in the tokenizer). Degradation: returns the matched
      // substrings, not JSONata's {match, index, groups} objects.
      case "match" =>
        arity(2, 3)
        val matches = regexp_extract_all(str(arg(0)), lit(litStr(args(1))), lit(0))
        Typed(argOpt(2).map(l => slice(matches, lit(1), num(l).col.cast(IntegerType)))
          .getOrElse(matches), ArrayType(StringType))

      // encoding
      case "base64encode" =>
        arity(1); Typed(base64(str(arg(0)).cast(BinaryType)), StringType)
      case "base64decode" =>
        arity(1); Typed(unbase64(str(arg(0))).cast(StringType), StringType)

      // date/time (ISO-8601 like JSONata; session time zone applies —
      // UTC in this engine's mains/tests)
      case "toMillis" =>
        arity(1)
        Typed(unix_millis(to_timestamp(str(arg(0)))), LongType)
      case "fromMillis" =>
        arity(1)
        Typed(date_format(timestamp_millis(num(arg(0)).col.cast(LongType)),
          "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"), StringType)
      case "now" =>
        // per JSONata: every $now() in one evaluation returns the same
        // instant — current_timestamp is per-query constant, matching
        arity(0)
        Typed(date_format(current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"), StringType)
      case "millis" =>
        arity(0)
        Typed(unix_millis(current_timestamp()), LongType)

      // reflection — static schema makes $type a compile-time constant
      // (runtime check only for null)
      case "type" =>
        arity(1)
        val t = arg(0)
        val name = t.dt match {
          case _: NumericType => "number"
          case StringType => "string"
          case BooleanType => "boolean"
          case ArrayType(_, _) => "array"
          case _: StructType | _: MapType => "object"
          case NullType => "null"
          case other => other.typeName
        }
        Typed(when(t.col.isNull, lit("null")).otherwise(lit(name)), StringType)

      // boolean / existence
      case "not" => arity(1); Typed(!bool(arg(0)), BooleanType)
      case "boolean" => arity(1); Typed(bool(arg(0)), BooleanType)
      case "exists" =>
        arity(1)
        try Typed(arg(0).col.isNotNull, BooleanType)
        catch { case _: JsonataCompileError => Typed(lit(false), BooleanType) }

      // objects (static schema)
      case "keys" =>
        arity(1)
        arg(0).dt match {
          case st: StructType => Typed(array(st.fieldNames.toIndexedSeq.map(lit(_)): _*), ArrayType(StringType))
          case MapType(_, _, _) => Typed(map_keys(arg(0).col), ArrayType(StringType))
          case other => throw new JsonataCompileError(s"$$keys on ${other.simpleString}")
        }
      case "lookup" =>
        arity(2)
        val obj = arg(0)
        obj.dt match {
          case _: StructType => step(obj, JField(litStr(args(1))), env)
          case MapType(_, vt, _) => Typed(element_at(obj.col, litStr(args(1))), vt)
          case other => throw new JsonataCompileError(s"$$lookup on ${other.simpleString}")
        }
      case "spread" =>
        // $spread(obj) — JSONata: array of single-key objects. Typed
        // degradation: array of {key, value} entries (what map_entries
        // gives a map); struct values unify to one type.
        arity(1)
        arg(0).dt match {
          case st: StructType =>
            val vt = st.fields.map(_.dataType).reduceOption(unify).getOrElse(StringType)
            val entries = st.fields.toSeq.map(f => struct(
              lit(f.name).as("key"),
              arg(0).col.getField(f.name).cast(vt).as("value")))
            Typed(array(entries: _*),
              ArrayType(StructType(Seq(StructField("key", StringType), StructField("value", vt)))))
          case MapType(kt, vt, _) =>
            Typed(map_entries(arg(0).col),
              ArrayType(StructType(Seq(StructField("key", kt), StructField("value", vt)))))
          case other => throw new JsonataCompileError(s"$$spread on ${other.simpleString}")
        }
      case "each" =>
        // $each(obj, function($v, $k){...}) — array of lambda results over
        // the object's (value, key) pairs; struct keys enumerate statically
        arity(2)
        val lam = lambdaOf(args(1))
        arg(0).dt match {
          case st: StructType =>
            val results = st.fields.toSeq.map { f =>
              applyLambda(lam, List(
                Typed(arg(0).col.getField(f.name), f.dataType),
                Typed(lit(f.name), StringType)))
            }
            val dt = results.map(_.dt).reduceOption(unify).getOrElse(StringType)
            Typed(array(results.map(cast(_, dt)): _*), ArrayType(dt))
          case MapType(kt, vt, _) =>
            var outDt: DataType = NullType
            val out = transform(map_entries(arg(0).col), e => {
              val t = applyLambda(lam, List(
                Typed(e.getField("value"), vt), Typed(e.getField("key"), kt)))
              outDt = t.dt
              t.col
            })
            Typed(out, ArrayType(outDt))
          case other => throw new JsonataCompileError(s"$$each on ${other.simpleString}")
        }
      case "merge" =>
        // $merge([obj1, obj2, ...]) — static struct merge, later keys win
        arity(1)
        val objs = args.head match {
          case JArray(items) => items.map(compileNode(_, ctx, env))
          case other => throw new JsonataCompileError(
            s"$$merge expects an array literal of objects, got $other")
        }
        val structs = objs.map { t =>
          t.dt match {
            case st: StructType => (t, st)
            case other => throw new JsonataCompileError(s"$$merge element is ${other.simpleString}")
          }
        }
        // later objects override earlier fields of the same name
        val merged = scala.collection.mutable.LinkedHashMap.empty[String, (Column, DataType)]
        structs.foreach { case (t, st) =>
          st.fields.foreach(f => merged(f.name) = (t.col.getField(f.name), f.dataType))
        }
        Typed(
          struct(merged.map { case (n, (c, _)) => c.as(n) }.toSeq: _*),
          StructType(merged.map { case (n, (_, dt)) => StructField(n, dt) }.toSeq))

      // $eval: the argument expression is parsed and compiled INLINE at
      // plan time — sound because the contract requires a string literal
      // (the overwhelmingly common use: a config-supplied expression
      // constant per query). A runtime-computed expression string would
      // need a per-record interpreter, which the tier-3 contract
      // excludes — that case still fails loudly here at compile time.
      case "eval" =>
        arity(1, 2)
        val src = args(0) match {
          case JString(s) => s
          case other => throw new JsonataCompileError(
            s"$$eval requires a string-literal expression (got $other): " +
              "dynamic expression strings would need run-time interpretation, " +
              "which the codegen-only contract excludes")
        }
        val evalCtx = if (args.length == 2) arg(1) else ctx
        compileNode(JsonataParser.parse(src), evalCtx, env)

      case other => throw new JsonataCompileError(s"unsupported function $$$other")
    }
  }

  // ---- helpers ----------------------------------------------------------

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  private def compatible(a: DataType, b: DataType): Boolean =
    a == b || (isNumeric(a) && isNumeric(b)) || a == NullType || b == NullType

  private def num(t: Typed): Typed = t.dt match {
    case LongType | IntegerType | ShortType | ByteType => Typed(t.col.cast(LongType), LongType)
    case _: NumericType => Typed(t.col.cast(DoubleType), DoubleType)
    case NullType => Typed(t.col.cast(DoubleType), DoubleType)
    case other => throw new JsonataCompileError(s"expected number, got ${other.simpleString}")
  }

  /** Roman numeral of a positive long (1..3999) as a place-value lookup:
    * one array per decimal place, concatenated — closed-form, codegen'd.
    */
  private def romanColumn(n: Column): Column = {
    def tab(one: String, five: String, ten: String): Column = array(
      lit(""), lit(one), lit(one * 2), lit(one * 3), lit(one + five),
      lit(five), lit(five + one), lit(five + one * 2), lit(five + one * 3),
      lit(one + ten))
    val th = array(lit(""), lit("M"), lit("MM"), lit("MMM"))
    concat(
      element_at(th, (n / 1000L).cast(IntegerType) + 1),
      element_at(tab("C", "D", "M"), ((n % 1000L) / 100L).cast(IntegerType) + 1),
      element_at(tab("X", "L", "C"), ((n % 100L) / 10L).cast(IntegerType) + 1),
      element_at(tab("I", "V", "X"), (n % 10L).cast(IntegerType) + 1))
  }

  /** Map from roman numeral char to its value (for $parseInteger). */
  private val romanValues: Column = map(
    lit("I"), lit(1L), lit("V"), lit(5L), lit("X"), lit(10L),
    lit("L"), lit(50L), lit("C"), lit(100L), lit("D"), lit(500L),
    lit("M"), lit(1000L))

  /** Split an XPath picture into (primary, ordinal?): `'w;o'` → ("w", true).
    * Only the `o` format modifier is meaningful in English (jsonata-js
    * likewise keys on the leading 'o'); anything else compile-errors.
    */
  private def splitPicture(fn: String, full: String): (String, Boolean) =
    full.split(";", 2) match {
      case Array(p)                       => (p, false)
      case Array(p, m) if m.startsWith("o") => (p, true)
      case Array(_, m) => throw new JsonataCompileError(
        s"$$$fn picture modifier ';$m' not supported (only ';o' ordinal)")
    }

  // word tables for $formatInteger / $parseInteger word pictures —
  // Title-Case base forms per the jsonata-js engine; 'w' lowercases the
  // whole result, 'W' uppercases, 'Ww' keeps the title-case forms with
  // lowercase connectors ("and")
  private val fewWords = Seq("Zero", "One", "Two", "Three", "Four", "Five",
    "Six", "Seven", "Eight", "Nine", "Ten", "Eleven", "Twelve", "Thirteen",
    "Fourteen", "Fifteen", "Sixteen", "Seventeen", "Eighteen", "Nineteen")
  private val fewOrdWords = Seq("Zeroth", "First", "Second", "Third", "Fourth",
    "Fifth", "Sixth", "Seventh", "Eighth", "Ninth", "Tenth", "Eleventh",
    "Twelfth", "Thirteenth", "Fourteenth", "Fifteenth", "Sixteenth",
    "Seventeenth", "Eighteenth", "Nineteenth")
  private val decadeWords = Seq("Twenty", "Thirty", "Forty", "Fifty", "Sixty",
    "Seventy", "Eighty", "Ninety")
  private val magnitudeWords =
    Seq("Trillion" -> 1000000000000L, "Billion" -> 1000000000L,
      "Million" -> 1000000L, "Thousand" -> 1000L)

  // 1..99 / 1..999 group renderings as plain Scala — the SAME logic the
  // former Column-tree form spelled per row, evaluated once at compile
  // time so the runtime expression is an O(1) array lookup per group
  private def tensStr(m: Int, ord: Boolean): String =
    if (m <= 19) (if (ord) fewOrdWords else fewWords)(m)
    else {
      val d = m / 10; val r = m % 10
      if (r > 0) decadeWords(d - 2) + "-" + (if (ord) fewOrdWords else fewWords)(r)
      else if (ord) decadeWords(d - 2).dropRight(1) + "ieth"
      else decadeWords(d - 2)
    }
  private def small3Str(m: Int, ord: Boolean): String =
    if (m < 100) tensStr(m, ord)
    else {
      val h = m / 100; val r = m % 100
      fewWords(h) + " Hundred" +
        (if (r > 0) " and " + tensStr(r, ord) else if (ord) "th" else "")
    }
  private val card999: Seq[String] = (1 to 999).map(small3Str(_, ord = false))
  private val ord999: Seq[String] = (1 to 999).map(small3Str(_, ord = true))

  /** A string-array constant as a SINGLE catalyst Literal node (vs the
    * n-child CreateArray `array(lit, ...)` builds, which every tree
    * transform re-walks element by element).
    */
  private def stringArrayLit(values: Seq[String]): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          values.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray[Any]),
        ArrayType(StringType, containsNull = false)))

  /** English number words of a long (|n| < 10^15), closed-form: each
    * 3-digit magnitude group is ONE element_at into a precomputed
    * 999-entry literal array (cardinal, or ordinal for the final group),
    * joined with the jsonata-js connectors — magnitude groups with ", ",
    * a final group under 100 with " and ", ordinal applied to the last
    * spoken word ("One Hundred and Twenty-Third", "One Thousandth").
    * The arrays land in the codegen references table, so the generated
    * per-row code is a handful of divisions and lookups — the previous
    * per-place CASE/concat tree inlined ~10k generated lines per
    * instance, and a projection with several pictures overflowed
    * Janino's 64 KB method limit into interpreted fallback (the r17
    * pipe_jsonata_t4 finding).
    */
  private def wordsColumn(n0: Column, ordinal: Boolean): Column = {
    // Column./ is DOUBLE division; all quotients here are long place values
    def idiv(a: Column, b: Long): Column = floor(a / b).cast(LongType)
    // ONE pre-built Literal node per array — NOT array(lit, lit, ...): a
    // 999-child CreateArray makes every analyzer/optimizer rule and each
    // AQE re-optimization traverse thousands of literal nodes per query
    // (measured ~9 s of pure planning per bench round before this), while
    // a single Literal is one node and one codegen references entry
    val card = stringArrayLit(card999)
    val ords = stringArrayLit(ord999)
    val v = abs(n0)
    // magnitude groups highest-first; `prev` accumulates left to right;
    // ordinal "th" lands on a magnitude word only when nothing follows it
    val (parts, prevAfter) =
      magnitudeWords.foldLeft((Seq.empty[Column], lit(false))) {
        case ((acc, prev), (word, base)) =>
          val mant =
            if (base == 1000000000000L) idiv(v, base) else idiv(v, base) % 1000L
          val part = when(mant > 0L, concat(
            when(prev, lit(", ")).otherwise(lit("")),
            element_at(card, mant.cast(IntegerType)),
            lit(" " + word),
            if (ordinal) when(v % base === 0L, lit("th")).otherwise(lit(""))
            else lit(""))).otherwise(lit(""))
          (acc :+ part, prev || mant > 0L)
      }
    val d0 = v % 1000L
    // final group: " and " connects a <100 tail, ", " a hundreds tail —
    // the connector the inlined small3/tens pair used to branch on
    val d0part = when(d0 > 0L, concat(
      when(prevAfter, when(d0 < 100L, lit(" and ")).otherwise(lit(", ")))
        .otherwise(lit("")),
      element_at(if (ordinal) ords else card, d0.cast(IntegerType))))
      .otherwise(lit(""))
    val words = when(v === 0L, lit(if (ordinal) "Zeroth" else "Zero"))
      .otherwise(concat(parts :+ d0part: _*))
    // null in → null out (JSONata: undefined), not the empty-concat ""
    when(n0.isNull, lit(null).cast(StringType))
      .when(n0 < 0L, concat(lit("-"), words)).otherwise(words)
  }

  /** Inverse of the word rendering: tokenize on whitespace/comma/hyphen,
    * drop "and", look each token up in one literal map (cardinal AND
    * ordinal forms), then fold with the classic (total, current)
    * accumulator: ×100 scales the current group, a magnitude word
    * flushes it into the total, anything else adds. One aggregate()
    * over a bounded token array — codegen'd, no UDF.
    */
  private def parseWordsColumn(s: Column): Column = {
    // FAST PATH (r18): a word rendering of 0..999 (cardinal or ordinal,
    // either case) is exactly an entry of the 999-form tables, and its
    // table POSITION is its value — one codegen'd array_position instead
    // of the tokenize→map-lookup→fold chain, whose higher-order
    // functions are CodegenFallback and ran interpreted per row (the
    // pipe_jsonata_t4 rt column's cost). Anything else — magnitudes,
    // mixed forms — falls through to the general fold below; the when
    // chain evaluates lazily, so the fold's interpreted branch only runs
    // on fast-path misses.
    val sl = lower(s)
    val neg = sl.startsWith("-")
    val base = regexp_replace(sl, "^-", "")
    val posC = array_position(stringArrayLit(card999.map(_.toLowerCase)), base)
    val posO = array_position(stringArrayLit(ord999.map(_.toLowerCase)), base)
    val fastBase = when(base === "zero" || base === "zeroth", lit(0L))
      .when(posC > 0L, posC)
      .when(posO > 0L, posO)
    // coalesce evaluates the fast chain ONCE; a null (miss, or null
    // input) falls through to the general fold
    coalesce(when(neg, -fastBase).otherwise(fastBase), parseWordsFold(s))
  }

  /** The general word parser (tokenize, per-token table lookup, fold) —
    * the [[parseWordsColumn]] fallback for inputs beyond the 0..999
    * fast-path tables.
    */
  private def parseWordsFold(s: Column): Column = {
    val entries: Seq[(String, Long)] =
      fewWords.zipWithIndex.map { case (w, i) => w.toLowerCase -> i.toLong } ++
      fewOrdWords.zipWithIndex.map { case (w, i) => w.toLowerCase -> i.toLong } ++
      decadeWords.zipWithIndex.map { case (w, i) => w.toLowerCase -> ((i + 2) * 10L) } ++
      decadeWords.zipWithIndex.map { case (w, i) =>
        (w.dropRight(1) + "ieth").toLowerCase -> ((i + 2) * 10L) } ++
      Seq("hundred" -> 100L, "hundredth" -> 100L) ++
      magnitudeWords.flatMap { case (w, v) =>
        Seq(w.toLowerCase -> v, (w.toLowerCase + "th") -> v) }
    val wordValues = map(entries.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val sl = lower(s)
    val toks = filter(
      split(regexp_replace(sl, "(^-)|\\band\\b", " "), "[\\s,-]+"),
      t => length(t) > 0)
    val vals = transform(toks, t => element_at(wordValues, t))
    val folded = aggregate(vals,
      struct(lit(0L).as("total"), lit(0L).as("cur")),
      (acc, x) => {
        val total = acc.getField("total")
        val cur = acc.getField("cur")
        when(x === 100L,
          struct(total.as("total"), (greatest(cur, lit(1L)) * 100L).as("cur")))
          .when(x >= 1000L,
            struct((total + greatest(cur, lit(1L)) * x).as("total"), lit(0L).as("cur")))
          .otherwise(struct(total.as("total"), (cur + x).as("cur")))
      })
    val mag = folded.getField("total") + folded.getField("cur")
    when(sl.startsWith("-"), -mag).otherwise(mag)
  }

  /** Bijective base-26 letter numbering (1→a, 26→z, 27→aa); 14 fold
    * steps cover the full Long range. The fold is an `aggregate` HOF
    * whose lambda binds the running (m, s) state — the former unrolled
    * places each re-inlined (and re-EVALUATED) their whole division
    * prefix chain, O(places²) generated work per row; the fold is
    * measured ~6× faster at identical output (r17).
    */
  // bijective base-26 renderings of 1..702 ('a'..'zz'), computed once at
  // compile time — the r18 fast path: the runtime fold below is an
  // aggregate HOF (CodegenFallback, 14 interpreted steps per row), while
  // ≤2-letter numberings — the overwhelmingly common case — become one
  // codegen'd element_at into a literal table
  private val letters702: Seq[String] = (1 to 702).map { n =>
    var m = n.toLong
    val sb = new StringBuilder
    while (m > 0) { sb.insert(0, ('a' + ((m - 1) % 26).toInt).toChar); m = (m - 1) / 26 }
    sb.toString
  }

  private def lettersColumn(n0: Column, base: Char): Column = {
    // Column `/` is double division: exact only below 2^53, so place
    // extraction past that would silently garble a letter — fail loudly
    // like the word pictures' 10^15 bound instead
    val v = when(abs(n0) >= 9007199254740992L,
      raise_error(lit("$formatInteger letter pictures support |n| < 2^53")))
      .otherwise(abs(n0))
    val table = stringArrayLit(
      if (base == 'a') letters702 else letters702.map(_.toUpperCase))
    val folded = aggregate(sequence(lit(1), lit(14)),
      struct(v.as("m"), lit("").cast(StringType).as("s")),
      (acc, _) => {
        val m = acc.getField("m")
        when(m > 0L, struct(
          floor((m - 1L) / 26L).cast(LongType).as("m"),
          concat(call_function("char", (m - 1L) % 26L + lit(base.toLong)),
            acc.getField("s")).as("s")))
          .otherwise(acc)
      })
    // lazy when chain: the interpreted fold branch only runs past 'zz'
    val word = when(v >= 1L && v <= 702L, element_at(table, v.cast(IntegerType)))
      .otherwise(folded.getField("s"))
    when(n0.isNull, lit(null).cast(StringType))
      .when(n0 < 0L, concat(lit("-"), word)).otherwise(word)
  }

  /** English ordinal suffix of a long: 11/12/13 → th, else by last digit. */
  private def ordinalSuffix(n: Column): Column = {
    val m100 = abs(n) % 100L
    val m10 = abs(n) % 10L
    when(m100.isin(11L, 12L, 13L), lit("th"))
      .when(m10 === 1L, lit("st"))
      .when(m10 === 2L, lit("nd"))
      .when(m10 === 3L, lit("rd"))
      .otherwise(lit("th"))
  }

  private def numArr(t: Typed): Column = t.dt match {
    case ArrayType(et, _) if isNumeric(et) => t.col.cast(ArrayType(DoubleType))
    case et if isNumeric(et) => array(t.col.cast(DoubleType)) // singleton sequence
    case other => throw new JsonataCompileError(s"expected number sequence, got ${other.simpleString}")
  }

  private def aggNum(t: Typed, f: (Column, Column) => Column): Column =
    aggregate(numArr(t), lit(0.0), f)

  private def asArr(t: Typed): Typed = t.dt match {
    case ArrayType(_, _) => t
    case dt => Typed(array(t.col), ArrayType(dt)) // singleton promotion
  }

  private def str(t: Typed): Column = t.dt match {
    case StringType => t.col
    case _ => t.col.cast(StringType)
  }

  /** JSONata truthiness: false/0/""/empty-seq/null are falsy. */
  private def bool(t: Typed): Column = t.dt match {
    case BooleanType => coalesce(t.col, lit(false))
    case dt if isNumeric(dt) => coalesce(t.col =!= 0, lit(false))
    case StringType => coalesce(length(t.col) > 0, lit(false))
    case ArrayType(_, _) => coalesce(size(t.col) > 0, lit(false))
    case NullType => lit(false)
    case _ => t.col.isNotNull
  }

  private def cast(t: Typed, dt: DataType): Column =
    if (t.dt == dt) t.col else t.col.cast(dt)

  private def unify(a: DataType, b: DataType): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (NullType, y) => y
    case (x, NullType) => x
    case (x, y) if isNumeric(x) && isNumeric(y) =>
      if (x == LongType && y == LongType) LongType else DoubleType
    case (ArrayType(x, _), ArrayType(y, _)) => ArrayType(unify(x, y))
    case _ => StringType
  }

  /** Static string literal argument (separator/pattern positions). */
  private def litStr(n: JNode): String = n match {
    case JString(s) => s
    case other => throw new JsonataCompileError(s"expected string literal, got $other")
  }
}
