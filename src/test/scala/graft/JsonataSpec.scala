package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.jsonata.{JsonataCompiler, JsonataParseError, JsonataCompileError, JsonataParser}

/** JSONata-subset compiler vs the published JSONata semantics
  * (docs.jsonata.org) on the FIXTURES.md §A payload cases.
  */
class JsonataSpec extends SparkTestBase {
  import spark.implicits._

  private val sensorSchema = StructType(Seq(
    StructField("on", BooleanType),
    StructField("watts", DoubleType),
    StructField("name", StringType)))

  private val nestedSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("readings", ArrayType(StructType(Seq(StructField("t", DoubleType))))),
    StructField("meta", StructType(Seq(StructField("fw", StringType))))))

  private val sensorJson = """{"on": true, "watts": 7.5, "name": "lamp-1"}"""
  private val nestedJson =
    """{"id": 42, "readings": [{"t": 21.5}, {"t": 22.1}], "meta": {"fw": "1.2"}}"""

  /** `expr` over one payload, composed the way GraftPipeline.plan runs a
    * transform: one parse behind the barrier, the compiled transform over
    * the parsed struct, NULL unless the parse succeeded. */
  private def evalOn(json: String, schema: StructType, expr: String): Any = {
    import graft.functions.PipelineFunctions.{parseJsonLenient, parseOk, stageBarrier}
    val df = stageBarrier(Seq(json).toDF("payload"), Nil,
        "p" -> parseJsonLenient(col("payload"), schema))
      .select(when(parseOk(col("p")), JsonataCompiler.compile(expr, col("p"), schema)).as("r"))
    df.collect()(0).get(0)
  }

  test("path navigation and arithmetic: watts * 2") {
    assert(evalOn(sensorJson, sensorSchema, "watts * 2") == 15.0)
  }

  test("nested path: meta.fw") {
    assert(evalOn(nestedJson, nestedSchema, "meta.fw") == "1.2")
  }

  test("array index: readings[0].t and negative index readings[-1].t") {
    assert(evalOn(nestedJson, nestedSchema, "readings[0].t") == 21.5)
    assert(evalOn(nestedJson, nestedSchema, "readings[-1].t") == 22.1)
  }

  test("out-of-range index yields null (JSONata undefined), not an ANSI error") {
    assert(evalOn(nestedJson, nestedSchema, "readings[9].t") == null)
    assert(evalOn(nestedJson, nestedSchema, "readings[-9].t") == null)
  }

  test("object constructor with $count") {
    val r = evalOn(nestedJson, nestedSchema, """{"temp": readings[0].t, "n": $count(readings)}""")
      .asInstanceOf[org.apache.spark.sql.Row]
    assert(r.getDouble(0) == 21.5)
    assert(r.getLong(1) == 2L)
  }

  test("$uppercase") {
    assert(evalOn(sensorJson, sensorSchema, "$uppercase(name)") == "LAMP-1")
  }

  test("predicate filter: readings[t > 21.8]") {
    val r = evalOn(nestedJson, nestedSchema, "readings[t > 21.8]")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
    assert(r.map(_.getDouble(0)) == Seq(22.1))
  }

  test("implicit mapping + aggregation: $sum(readings.t)") {
    assert(evalOn(nestedJson, nestedSchema, "$sum(readings.t)") == 43.6)
  }

  test("$average, $max, $min over mapped sequence") {
    assert(evalOn(nestedJson, nestedSchema, "$average(readings.t)") == 21.8)
    assert(evalOn(nestedJson, nestedSchema, "$max(readings.t)") == 22.1)
    assert(evalOn(nestedJson, nestedSchema, "$min(readings.t)") == 21.5)
  }

  test("conditional and truthiness: on ? 'yes' : 'no'") {
    assert(evalOn(sensorJson, sensorSchema, "on ? 'yes' : 'no'") == "yes")
  }

  test("string concat & casts numbers like JSONata") {
    assert(evalOn(sensorJson, sensorSchema, "name & '/' & watts") == "lamp-1/7.5")
  }

  test("comparison chain with and/or") {
    assert(evalOn(sensorJson, sensorSchema, "watts > 5 and watts < 10") == true)
    assert(evalOn(sensorJson, sensorSchema, "watts > 8 or on") == true)
  }

  test("string functions: substring, substringBefore/After, split, join, replace") {
    assert(evalOn(sensorJson, sensorSchema, "$substring(name, 0, 4)") == "lamp")
    assert(evalOn(sensorJson, sensorSchema, "$substring(name, -1)") == "1")
    assert(evalOn(sensorJson, sensorSchema, "$substringBefore(name, '-')") == "lamp")
    assert(evalOn(sensorJson, sensorSchema, "$substringAfter(name, '-')") == "1")
    assert(evalOn(sensorJson, sensorSchema, "$substringAfter(name, 'zz')") == "lamp-1")
    assert(evalOn(sensorJson, sensorSchema, "$join($split(name, '-'), '_')") == "lamp_1")
    assert(evalOn(sensorJson, sensorSchema, "$replace(name, 'lamp', 'led')") == "led-1")
  }

  test("numeric functions: $round, $floor, $ceil, $power, $sqrt, $abs") {
    assert(evalOn(sensorJson, sensorSchema, "$round(watts / 2, 1)") == 3.8)
    assert(evalOn(sensorJson, sensorSchema, "$floor(watts)") == 7L)
    assert(evalOn(sensorJson, sensorSchema, "$ceil(watts)") == 8L)
    assert(evalOn(sensorJson, sensorSchema, "$power(2, 10)") == 1024.0)
    assert(evalOn(sensorJson, sensorSchema, "$sqrt(watts * 2 + 1)") == 4.0)
    assert(evalOn(sensorJson, sensorSchema, "$abs(0 - watts)") == 7.5)
  }

  test("$exists on known and unknown fields") {
    assert(evalOn(sensorJson, sensorSchema, "$exists(watts)") == true)
    assert(evalOn(sensorJson, sensorSchema, "$exists(nosuchfield)") == false)
  }

  test("array constructor and in operator") {
    assert(evalOn(sensorJson, sensorSchema, "'lamp-1' in [name, 'other']") == true)
  }

  test("$keys on static schema struct") {
    val r = evalOn(nestedJson, nestedSchema, "$keys(meta)")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(r == Seq("fw"))
  }

  test("$map with user lambda") {
    val r = evalOn(nestedJson, nestedSchema, "$map(readings.t, function($x) { $x * 10 })")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(r == Seq(215.0, 221.0))
  }

  test("$map with builtin passed by name") {
    val r = evalOn(sensorJson, sensorSchema, "$map($split(name, '-'), $uppercase)")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(r == Seq("LAMP", "1"))
  }

  test("$filter with user lambda incl. index param") {
    val r = evalOn(nestedJson, nestedSchema, "$filter(readings.t, function($x) { $x > 21.8 })")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(r == Seq(22.1))
    val byIndex = evalOn(nestedJson, nestedSchema,
      "$filter(readings.t, function($x, $i) { $i = 0 })")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(byIndex == Seq(21.5))
  }

  test("$reduce with and without init") {
    assert(evalOn(nestedJson, nestedSchema,
      "$reduce(readings.t, function($acc, $v) { $acc + $v }, 100)") == 143.6)
    assert(evalOn(nestedJson, nestedSchema,
      "$reduce(readings.t, function($acc, $v) { $acc + $v })") == 43.6)
  }

  test("$zip pairs elements") {
    val r = evalOn(nestedJson, nestedSchema, "$zip(readings.t, [1, 2])")
      .asInstanceOf[scala.collection.Seq[scala.collection.Seq[Double]]]
    assert(r == Seq(Seq(21.5, 1.0), Seq(22.1, 2.0)))
  }

  test("$sort with comparator lambda (descending)") {
    val r = evalOn(nestedJson, nestedSchema,
      "$sort(readings.t, function($a, $b) { $a < $b })")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(r == Seq(22.1, 21.5))
  }

  test("$formatBase converts radix with lowercase digits") {
    assert(evalOn(sensorJson, sensorSchema, "$formatBase(255, 16)") == "ff")
    assert(evalOn(sensorJson, sensorSchema, "$formatBase(5, 2)") == "101")
  }

  test("$merge combines objects, later keys win") {
    val r = evalOn(nestedJson, nestedSchema,
      """$merge([{"a": 1, "b": 2}, {"b": 9, "c": 3}])""")
      .asInstanceOf[org.apache.spark.sql.Row]
    assert(r.getLong(0) == 1L && r.getLong(1) == 9L && r.getLong(2) == 3L)
  }

  test("unbound variable raises at compile time") {
    intercept[JsonataCompileError](evalOn(sensorJson, sensorSchema, "$nosuch + 1"))
  }

  test("unsupported constructs raise at compile time, not run time") {
    // binding mid-expression (JSONata also rejects this without parens)
    intercept[JsonataParseError](JsonataParser.parse("1 + $x := 2"))
    intercept[JsonataCompileError](
      evalOn(sensorJson, sensorSchema, "$unknownfn(name)"))
  }

  // ---- tier 2: wildcards, descendants, variable bindings ----------------

  private val deepSchema = StructType(Seq(
    StructField("value", LongType),
    StructField("a", StructType(Seq(
      StructField("value", LongType),
      StructField("b", StructType(Seq(StructField("value", LongType))))))),
    StructField("arr", ArrayType(StructType(Seq(StructField("value", LongType)))))))
  private val deepJson =
    """{"value": 1, "a": {"value": 2, "b": {"value": 3}}, "arr": [{"value": 4}, {"value": 5}]}"""

  test("wildcard *: all child values of an object") {
    // meta.* over nested doc: single string child
    val r = evalOn(nestedJson, nestedSchema, "meta.*")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(r == Seq("1.2"))
    // homogeneous numeric children sum like JSONata $sum($.*)
    val s = StructType(Seq(StructField("pt", StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))))
    assert(evalOn("""{"pt": {"x": 3, "y": 4}}""", s, "$sum(pt.*)") == 7.0)
  }

  test("wildcard *.field navigates each child (sequence semantics)") {
    val s = StructType(Seq(
      StructField("s1", StructType(Seq(StructField("v", DoubleType)))),
      StructField("s2", StructType(Seq(StructField("v", DoubleType))))))
    val r = evalOn("""{"s1": {"v": 1.5}, "s2": {"v": 2.5}}""", s, "*.v")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(r == Seq(1.5, 2.5))
  }

  test("wildcard drops absent (null) children like JSONata drops undefined") {
    val s = StructType(Seq(StructField("pt", StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))))
    val r = evalOn("""{"pt": {"x": 3}}""", s, "pt.*")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(r == Seq(3L))
  }

  test("descendant **.field finds every depth incl. through arrays") {
    val r = evalOn(deepJson, deepSchema, "**.value")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(r == Seq(1L, 2L, 3L, 4L, 5L))
    assert(evalOn(deepJson, deepSchema, "$sum(**.value)") == 15.0)
    // scoped descent: a.**.value skips the root and the array
    val scoped = evalOn(deepJson, deepSchema, "a.**.value")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(scoped == Seq(2L, 3L))
  }

  test("descendant over absent subtree contributes nothing, not null") {
    val r = evalOn("""{"value": 1}""", deepSchema, "**.value")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(r == Seq(1L))
  }

  test("lone `**` enumerates every leaf value depth-first (document order)") {
    val r = evalOn(deepJson, deepSchema, "**")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(r == Seq(1L, 2L, 3L, 4L, 5L))
    assert(evalOn(deepJson, deepSchema, "$sum(**)") == 15.0)
  }

  test("wildcard * over array-of-structs is element-major (JSONata order)") {
    val s = StructType(Seq(StructField("arr", ArrayType(StructType(Seq(
      StructField("x", LongType), StructField("y", LongType)))))))
    val r = evalOn("""{"arr": [{"x": 1, "y": 2}, {"x": 3, "y": 4}]}""", s, "arr.*")
      .asInstanceOf[scala.collection.Seq[Long]]
    // each element's values in schema order, then the next element's —
    // NOT all x values followed by all y values
    assert(r == Seq(1L, 2L, 3L, 4L))
  }

  test("descendant ** through arrays is element-major (JSONata order)") {
    val s = StructType(Seq(StructField("arr", ArrayType(StructType(Seq(
      StructField("value", LongType),
      StructField("sub", StructType(Seq(StructField("value", LongType))))))))))
    val json = """{"arr": [{"value": 1, "sub": {"value": 2}}, {"value": 3, "sub": {"value": 4}}]}"""
    val r = evalOn(json, s, "**.value").asInstanceOf[scala.collection.Seq[Long]]
    // element 1's matches (own value, then sub.value) before element 2's
    assert(r == Seq(1L, 2L, 3L, 4L))
  }

  test("computed object keys degrade to map<string, unified> output") {
    val m = evalOn(sensorJson, sensorSchema, "($k := name; {$k: watts})")
      .asInstanceOf[scala.collection.Map[String, Double]]
    assert(m == Map("lamp-1" -> 7.5))
    val mixed = evalOn(sensorJson, sensorSchema, """{"fixed": 1, $uppercase(name): 2}""")
      .asInstanceOf[scala.collection.Map[String, Long]]
    assert(mixed == Map("fixed" -> 1L, "LAMP-1" -> 2L))
  }

  test("divergence contract: bare-name key is literal; parenthesize to compute") {
    // jsonata-js evaluates an unquoted key as a path expression; this
    // compiler treats it as a literal (JsonataCompiler header). The two
    // forms must stay distinguishable, not silently equal:
    val lit = evalOn(sensorJson, sensorSchema, "{name: watts}")
      .asInstanceOf[org.apache.spark.sql.Row]
    assert(lit.schema.fieldNames.toSeq == Seq("name") && lit.getDouble(0) == 7.5)
    val computed = evalOn(sensorJson, sensorSchema, "{(name): watts}")
      .asInstanceOf[scala.collection.Map[String, Double]]
    assert(computed == Map("lamp-1" -> 7.5))
  }

  test("divergence contract: heterogeneous sequences unify in type, not value") {
    // full JSONata keeps [7.5, "lamp-1"] heterogeneous; here the sequence
    // unifies to the common type (string) — values preserved, type widened
    val r = evalOn(sensorJson, sensorSchema, "[watts, name]")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(r == Seq("7.5", "lamp-1"))
  }

  test("block with value bindings: ($x := expr; ...) ") {
    assert(evalOn(sensorJson, sensorSchema, "($x := watts * 2; $x + 1)") == 16.0)
    // a binding referenced twice compiles (Columns are trees — the
    // subtree duplicates, but semantics hold)
    assert(evalOn(sensorJson, sensorSchema, "($x := watts; $x + $x)") == 15.0)
    // later bindings see earlier ones; block value is the last expr
    assert(evalOn(sensorJson, sensorSchema,
      "($a := 2; $b := $a * 3; $b + watts)") == 13.5)
  }

  test("function bindings: ($f := function($v){...}; $f(x))") {
    assert(evalOn(sensorJson, sensorSchema,
      "($f := function($v) { $v * 10 }; $f(watts))") == 75.0)
    // bound functions work as HOF arguments too
    val r = evalOn(nestedJson, nestedSchema,
      "($scale := function($x) { $x * 2 }; $map(readings.t, $scale))")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(r == Seq(43.0, 44.2))
  }

  test("recursive function binding raises a clear compile error") {
    intercept[JsonataCompileError](evalOn(sensorJson, sensorSchema,
      "($f := function($x) { $f($x) }; $f(1))"))
  }

  test("$match returns matched substrings (degraded from match objects)") {
    val r = evalOn(sensorJson, sensorSchema, "$match(name, '[a-z]+')")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(r == Seq("lamp"))
    val limited = evalOn(sensorJson, sensorSchema, "$match('a1b2c3', '[a-z]', 2)")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(limited == Seq("a", "b"))
  }

  test("$shuffle permutes (same elements, same size)") {
    val r = evalOn(nestedJson, nestedSchema, "$shuffle(readings.t)")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(r.sorted == Seq(21.5, 22.1))
  }

  test("$spread turns an object into {key, value} entries") {
    val s = StructType(Seq(StructField("pt", StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))))
    val r = evalOn("""{"pt": {"x": 3, "y": 4}}""", s, "$spread(pt)")
      .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
    assert(r.map(e => e.getString(0) -> e.getLong(1)) == Seq("x" -> 3L, "y" -> 4L))
  }

  test("$each maps a lambda over (value, key) pairs") {
    val s = StructType(Seq(StructField("pt", StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))))
    val r = evalOn("""{"pt": {"x": 3, "y": 4}}""", s,
      "$each(pt, function($v, $k) { $k & '=' & $v })")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(r == Seq("x=3", "y=4"))
  }

  test("$sift filters an object's entries into a map") {
    val s = StructType(Seq(StructField("pt", StructType(Seq(
      StructField("x", LongType), StructField("y", LongType))))))
    val r = evalOn("""{"pt": {"x": 3, "y": 4}}""", s,
      "$sift(pt, function($v) { $v > 3 })")
      .asInstanceOf[scala.collection.Map[String, Long]]
    assert(r == Map("y" -> 4L))
    val byKey = evalOn("""{"pt": {"x": 3, "y": 4}}""", s,
      "$sift(pt, function($v, $k) { $k = 'x' })")
      .asInstanceOf[scala.collection.Map[String, Long]]
    assert(byKey == Map("x" -> 3L))
  }

  test("$base64encode / $base64decode round-trip") {
    assert(evalOn(sensorJson, sensorSchema, "$base64encode('abc')") == "YWJj")
    assert(evalOn(sensorJson, sensorSchema, "$base64decode($base64encode(name))") == "lamp-1")
  }

  test("$toMillis / $fromMillis ISO-8601 round-trip (UTC session)") {
    assert(evalOn(sensorJson, sensorSchema,
      "$toMillis('2017-11-07T15:07:54.972Z')") == 1510067274972L)
    assert(evalOn(sensorJson, sensorSchema,
      "$fromMillis(1510067274972)") == "2017-11-07T15:07:54.972Z")
  }

  test("$type reports static type, null at runtime for null values") {
    assert(evalOn(sensorJson, sensorSchema, "$type(watts)") == "number")
    assert(evalOn(sensorJson, sensorSchema, "$type(name)") == "string")
    assert(evalOn(sensorJson, sensorSchema, "$type(on)") == "boolean")
    assert(evalOn(nestedJson, nestedSchema, "$type(readings)") == "array")
    assert(evalOn(nestedJson, nestedSchema, "$type(meta)") == "object")
  }

  test("$round is half-even (banker's), matching JSONata") {
    assert(evalOn(sensorJson, sensorSchema, "$round(2.5)") == 2.0)
    assert(evalOn(sensorJson, sensorSchema, "$round(3.5)") == 4.0)
    assert(evalOn(sensorJson, sensorSchema, "$round(-2.5)") == -2.0)
    assert(evalOn(sensorJson, sensorSchema, "$round(2.25, 1)") == 2.2)
  }

  test("$encodeUrlComponent / $decodeUrlComponent (form-encoding: space is '+')") {
    assert(evalOn(sensorJson, sensorSchema, "$encodeUrlComponent('a b&c')") == "a+b%26c")
    assert(evalOn(sensorJson, sensorSchema, "$decodeUrlComponent('a+b%26c')") == "a b&c")
  }

  test("$encodeUrl / $decodeUrl (encodeURI semantics: reserved chars kept)") {
    assert(evalOn(sensorJson, sensorSchema,
      "$encodeUrl('https://e.com/a b?x=1&y=é')") ==
      "https://e.com/a%20b?x=1&y=%C3%A9")
    assert(evalOn(sensorJson, sensorSchema,
      "$decodeUrl('https://e.com/a%20b%3Fc?x=%C3%A9&y=1+1')") ==
      "https://e.com/a b%3Fc?x=é&y=1+1")
  }

  test("$formatNumber renders DecimalFormat pictures") {
    assert(evalOn(sensorJson, sensorSchema, "$formatNumber(1234.5678, '#,##0.00')") == "1,234.57")
    assert(evalOn(sensorJson, sensorSchema, "$formatNumber(0.14, '0%')") == "14%")
  }

  test("$formatNumber options argument (XPath decimal-format properties)") {
    // separator overrides: picture written WITH the custom chars
    // (public JSONata semantics — the options define the picture alphabet)
    assert(evalOn(sensorJson, sensorSchema,
      "$formatNumber(1234.5678, '#.##0,00', {'decimal-separator': ',', 'grouping-separator': '.'})")
      == "1.234,57")
    // zero-digit: the whole digit family rebased onto the circled digits
    // (⑟ = U+245F, so ⑟+1 = ① … ⑟+9 = ⑨); picture written in the custom
    // family, output digits come back in it
    assert(evalOn(sensorJson, sensorSchema,
      "$formatNumber(1234.5678, '⑟⑟⑟,⑟⑟⑟·⑟⑟', " +
        "{'zero-digit': '⑟', 'decimal-separator': '·'})")
      == "⑟⑟①,②③④·⑤⑦")
    // minus-sign on a negative value
    assert(evalOn(sensorJson, sensorSchema,
      "$formatNumber(-3.5, '0.0', {'minus-sign': '–'})") == "–3.5")
    // digit char override in the picture
    assert(evalOn(sensorJson, sensorSchema,
      "$formatNumber(1234.5678, '*,**0.00', {'digit': '*'})") == "1,234.57")
    // non-literal / unknown options stay compile-time errors
    intercept[Exception](evalOn(sensorJson, sensorSchema,
      "$formatNumber(1, '0', {'definitely-not-a-property': ','})"))
    intercept[Exception](evalOn(sensorJson, sensorSchema,
      "$formatNumber(1, '0', {'decimal-separator': value})"))
    intercept[Exception](evalOn(sensorJson, sensorSchema,
      "$formatNumber(1, '0', {'decimal-separator': '::'})"))
    // XPath distinctness/zero-digit constraints fail at COMPILE time,
    // never as a per-row runtime throw: a decimal-separator colliding
    // with the (default) grouping-separator, a separator inside the
    // digit family, and a nonzero-valued digit as zero-digit
    intercept[Exception](evalOn(sensorJson, sensorSchema,
      "$formatNumber(1, '0', {'decimal-separator': ','})"))
    intercept[Exception](evalOn(sensorJson, sensorSchema,
      "$formatNumber(1, '0', {'decimal-separator': '3'})"))
    intercept[Exception](evalOn(sensorJson, sensorSchema,
      "$formatNumber(1, '0', {'zero-digit': '5'})"))
  }

  test("$formatInteger / $parseInteger: digit and roman pictures") {
    assert(evalOn(sensorJson, sensorSchema, "$formatInteger(42, '0000')") == "0042")
    assert(evalOn(sensorJson, sensorSchema, "$formatInteger(1234, '#,##0')") == "1,234")
    assert(evalOn(sensorJson, sensorSchema, "$formatInteger(1984, 'I')") == "MCMLXXXIV")
    assert(evalOn(sensorJson, sensorSchema, "$formatInteger(49, 'i')") == "xlix")
    assert(evalOn(sensorJson, sensorSchema, "$parseInteger('1,234', '#,##0')") == 1234L)
    assert(evalOn(sensorJson, sensorSchema, "$parseInteger('MCMLXXXIV', 'I')") == 1984L)
    assert(evalOn(sensorJson, sensorSchema, "$parseInteger('xlix', 'i')") == 49L)
  }

  test("$formatInteger word pictures match public jsonata-js renderings") {
    def fi(e: String): Any = evalOn(sensorJson, sensorSchema, e)
    assert(fi("$formatInteger(0, 'w')") == "zero")
    assert(fi("$formatInteger(9, 'w')") == "nine")
    assert(fi("$formatInteger(12, 'w')") == "twelve")
    assert(fi("$formatInteger(16, 'W')") == "SIXTEEN")
    assert(fi("$formatInteger(42, 'w')") == "forty-two")
    assert(fi("$formatInteger(123, 'w')") == "one hundred and twenty-three")
    assert(fi("$formatInteger(1000, 'w')") == "one thousand")
    assert(fi("$formatInteger(1100, 'w')") == "one thousand, one hundred")
    assert(fi("$formatInteger(2789, 'w')")
      == "two thousand, seven hundred and eighty-nine")
    assert(fi("$formatInteger(1001, 'w')") == "one thousand and one")
    assert(fi("$formatInteger(123, 'Ww')") == "One Hundred and Twenty-Three")
    assert(fi("$formatInteger(1234567890123, 'w')")
      == "one trillion, two hundred and thirty-four billion, " +
         "five hundred and sixty-seven million, eight hundred and " +
         "ninety thousand, one hundred and twenty-three")
    assert(fi("$formatInteger(-42, 'w')") == "-forty-two")
    // ordinals
    assert(fi("$formatInteger(1, 'w;o')") == "first")
    assert(fi("$formatInteger(12, 'w;o')") == "twelfth")
    assert(fi("$formatInteger(20, 'w;o')") == "twentieth")
    assert(fi("$formatInteger(21, 'w;o')") == "twenty-first")
    assert(fi("$formatInteger(100, 'w;o')") == "one hundredth")
    assert(fi("$formatInteger(123, 'w;o')") == "one hundred and twenty-third")
    assert(fi("$formatInteger(1000, 'w;o')") == "one thousandth")
    assert(fi("$formatInteger(1001, 'w;o')") == "one thousand and first")
    // digit-picture ordinals
    assert(fi("$formatInteger(12, '1;o')") == "12th")
    assert(fi("$formatInteger(21, '1;o')") == "21st")
    assert(fi("$formatInteger(22, '1;o')") == "22nd")
    assert(fi("$formatInteger(113, '1;o')") == "113th")
    // letter pictures (bijective base-26)
    assert(fi("$formatInteger(1, 'a')") == "a")
    assert(fi("$formatInteger(26, 'a')") == "z")
    assert(fi("$formatInteger(27, 'A')") == "AA")
    assert(fi("$formatInteger(57, 'a')") == "be")
    // round-trips through $parseInteger
    assert(fi("$parseInteger('forty-two', 'w')") == 42L)
    assert(fi("$parseInteger('one hundred and twenty-three', 'w')") == 123L)
    assert(fi("$parseInteger('Twelfth', 'Ww')") == 12L)
    assert(fi("$parseInteger('one trillion, two hundred and thirty-four " +
      "billion, five hundred and sixty-seven million, eight hundred and " +
      "ninety thousand, one hundred and twenty-three', 'w')") == 1234567890123L)
    assert(fi("$parseInteger('be', 'a')") == 57L)
    assert(fi("$parseInteger('AA', 'A')") == 27L)
    // unknown picture/modifier still compile-time errors
    intercept[Exception](fi("$formatInteger(5, 'α')"))
    intercept[Exception](fi("$formatInteger(5, 'w;x')"))
  }

  test("$eval compiles literal expression strings inline; rejects dynamic ones") {
    assert(evalOn(sensorJson, sensorSchema, "$eval('2 + 3')") == 5L)
    assert(evalOn(sensorJson, sensorSchema, "$eval('watts * 2')") == 15.0)
    assert(evalOn(nestedJson, nestedSchema, "$eval('$sum(t)', readings)") == 43.6)
    assert(evalOn(sensorJson, sensorSchema,
      "($f := 3; $eval('$f + 1'))") == 4L)
    intercept[JsonataCompileError](evalOn(sensorJson, sensorSchema, "$eval(name)"))
  }

  test("$single returns the lone match and errors on 0 or many") {
    assert(evalOn(nestedJson, nestedSchema,
      "$single(readings.t, function($x){ $x > 22 })") == 22.1)
    intercept[Exception](evalOn(nestedJson, nestedSchema,
      "$single(readings.t, function($x){ $x > 0 })"))
  }

  test("$assert passes through truth and raises otherwise; $error always raises") {
    assert(evalOn(sensorJson, sensorSchema, "$assert(on, 'must be on')") == true)
    intercept[Exception](evalOn(sensorJson, sensorSchema,
      "$assert(watts > 100, 'watts too low')"))
    intercept[Exception](evalOn(sensorJson, sensorSchema, "$error('boom')"))
  }

  test("malformed payload: whole transform yields null on null input struct") {
    val schema = sensorSchema
    val df = Seq("not json {").toDF("p")
      .select(JsonataCompiler.compile("watts * 2",
        graft.functions.PipelineFunctions.parseJsonLenient(col("p"), schema), schema).as("r"))
    assert(df.collect()(0).isNullAt(0))
  }

  test("compile memo never crosses plans: two RESOLVED columns with the " +
      "same pretty name stay bound to their own relations") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("watts", DoubleType)))
    val dfA = Seq(Tuple1(Tuple1(10.0))).toDF("v")
      .select(col("v").cast(schema).as("v"))
    val dfB = Seq(Tuple1(Tuple1(100.0))).toDF("v")
      .select(col("v").cast(schema).as("v"))
    // dfA("v") and dfB("v") render identically in pretty SQL but carry
    // different exprIds; a toString-keyed cache would hand dfB the
    // column resolved against dfA and throw "resolved attribute missing"
    val ra = dfA.select(JsonataCompiler.compile("watts * 2", dfA("v"), schema).as("r"))
    val rb = dfB.select(JsonataCompiler.compile("watts * 2", dfB("v"), schema).as("r"))
    assert(ra.collect()(0).getDouble(0) == 20.0)
    assert(rb.collect()(0).getDouble(0) == 200.0)
  }

  test("compile memo still hits for unresolved inputs (one compile, reused)") {
    val schema = sensorSchema
    val c1 = JsonataCompiler.compile("watts * 3", col("graft_memo_probe"), schema)
    val c2 = JsonataCompiler.compile("watts * 3", col("graft_memo_probe"), schema)
    assert(c1 eq c2, "same (src, unresolved input, schema) must return the cached Column")
  }
}
