package graft.blobl

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Conformance tests for the Bloblang-subset engine, ported from the
  * reference's own declarative corpus (config/test/bloblang/ dir) plus
  * method-surface unit cases. Each `content_equals` in the reference
  * corpus maps to an exact string assertion on the normalized output.
  */
class BloblSpec extends SparkSpec {

  private def docs(jsons: String*): DataFrame = {
    import spark.implicits._
    jsons.toDF("value")
  }

  private def mapped(src: String, envVars: Map[String, String], jsons: String*): Seq[String] = {
    import spark.implicits._
    Blobl.mapping(docs(jsons: _*), src, envVars).select("value").as[String].collect().toSeq
  }

  // reference: config/test/bloblang/cities.blobl + cities_test.yaml
  test("cities conformance case") {
    val src = """root.Cities = this.locations.
                |                filter(loc -> loc.state == "WA").
                |                map_each(loc -> loc.name).
                |                sort().join(", ")""".stripMargin
    val in =
      """{"locations":[{"name":"Seattle","state":"WA"},{"name":"New York","state":"NY"},
        |{"name":"Bellevue","state":"WA"},{"name":"Olympia","state":"WA"}]}""".stripMargin.replace("\n", "")
    assert(mapped(src, Map.empty, in) == Seq("""{"Cities":"Bellevue, Olympia, Seattle"}"""))
  }

  // reference: config/test/bloblang/literals.yaml (object/array literals
  // with conditional fields and deleted())
  test("literals: conditional object fields and array elements") {
    val src = """root = {
                |  "1": "1",
                |  "2": if env("FOO") == "ENABLED" { "foo" },
                |  "3": if this.count > 5 { this.count } else { deleted() },
                |  "4": [ "1", if env("FOO") == "ENABLED" { "foo" },
                |         if this.count > 5 { this.count } else { deleted() }, "4" ]
                |}""".stripMargin
    val withFoo = mapped(src, Map("FOO" -> "ENABLED"),
      """{"count":10}""", """{"count":3}""")
    assert(withFoo == Seq(
      """{"1":"1","2":"foo","3":10,"4":["1","foo",10,"4"]}""",
      """{"1":"1","2":"foo","4":["1","foo","4"]}"""))
    val withoutFoo = mapped(src, Map("FOO" -> "DISABLED"),
      """{"count":10}""", """{"count":3}""")
    assert(withoutFoo == Seq(
      """{"1":"1","3":10,"4":["1",10,"4"]}""",
      """{"1":"1","4":["1","4"]}"""))
  }

  // reference: config/test/bloblang/boolean_operands.yaml — three-valued
  // logic over missing fields, catch() recovery
  test("boolean operands with catch") {
    val src = """ands = (first && second).catch("failed")
                |ors = (first || second).catch("failed")""".stripMargin
    val out = mapped(src, Map.empty,
      """{"none":"of the target values"}""",
      """{"first":true}""",
      """{"first":false}""",
      """{"first":true,"second":true}""")
    assert(out == Seq(
      """{"ands":"failed","ors":"failed"}""",
      """{"ands":"failed","ors":true}""",
      """{"ands":false,"ors":"failed"}""",
      """{"ands":true,"ors":true}"""))
  }

  // reference: config/test/bloblang/message_expansion.yaml — let vars,
  // without(), expression-form map_each with `this` = element, merge()
  test("message expansion: let + without + map_each(merge)") {
    val src = """let doc_root = this.without("items")
                |root = items.map_each($doc_root.merge(this))""".stripMargin
    val in = """{"id":"foobar","items":[{"content":"foo"},{"content":"bar"}]}"""
    assert(mapped(src, Map.empty, in) ==
      Seq("""[{"content":"foo","id":"foobar"},{"content":"bar","id":"foobar"}]"""))
  }

  test("mutation overlays the input document") {
    import spark.implicits._
    val out = Blobl.mutation(docs("""{"a":1,"b":{"c":2}}"""),
      """root.b.d = this.a + 10
        |root.e = "x"""".stripMargin)
      .select("value").as[String].collect().toSeq
    assert(out == Seq("""{"a":1,"b":{"c":2,"d":11},"e":"x"}"""))
  }

  test("root = deleted() drops rows (filter pattern)") {
    import spark.implicits._
    val src = """root = this
                |if this.n < 2 { root = deleted() }""".stripMargin
    val out = Blobl.mutation(docs("""{"n":1}""", """{"n":2}""", """{"n":3}"""), src)
      .select("value").as[String].collect().toSeq
    assert(out == Seq("""{"n":2}""", """{"n":3}"""))
  }

  test("field deleted() removes a key") {
    import spark.implicits._
    val out = Blobl.mutation(docs("""{"a":1,"b":2}"""), "root.b = deleted()")
      .select("value").as[String].collect().toSeq
    assert(out == Seq("""{"a":1}"""))
  }

  test("pipe operator coalesces over missing fields") {
    assert(mapped("root.v = this.a | this.b | \"dflt\"", Map.empty,
      """{"a":"x"}""", """{"b":"y"}""", """{"c":"z"}""") ==
      Seq("""{"v":"x"}""", """{"v":"y"}""", """{"v":"dflt"}"""))
  }

  test("match expression") {
    val src = """root.size = match {
                |  this.n > 100 => "big",
                |  this.n > 10 => "medium",
                |  _ => "small"
                |}""".stripMargin
    assert(mapped(src, Map.empty, """{"n":500}""", """{"n":50}""", """{"n":5}""") ==
      Seq("""{"size":"big"}""", """{"size":"medium"}""", """{"size":"small"}"""))
  }

  test("fold with tally/value context") {
    // reference: config/test/bloblang/windowed.yaml fold-max shape
    val src = """root.max = this.xs.fold(0, match {
                |  tally < value => value,
                |  _ => tally
                |})""".stripMargin
    assert(mapped(src, Map.empty, """{"xs":[3,9,4]}""") == Seq("""{"max":9}"""))
  }

  test("string methods") {
    val src = """root.u = this.s.uppercase()
                |root.cap = this.s.capitalize()
                |root.pre = this.s.has_prefix("he")
                |root.sl = this.s.slice(0, 4)
                |root.neg = this.s.slice(-3)
                |root.rep = this.s.replace_all("l", "L")
                |root.idx = this.s.index_of("llo")
                |root.len = this.s.length()""".stripMargin
    assert(mapped(src, Map.empty, """{"s":"hello world"}""") == Seq(
      """{"cap":"Hello World","idx":2,"len":11,"neg":"rld","pre":true,"rep":"heLLo worLd","sl":"hell","u":"HELLO WORLD"}"""))
  }

  test("regex + hash + encoding methods") {
    val src = """root.m = this.s.re_match("^[a-z]+$")
                |root.r = this.s.re_replace_all("[aeiou]", "_")
                |root.h = this.s.hash("sha256").encode("hex")
                |root.b = this.s.encode("base64")
                |root.rt = this.s.encode("base64").decode("base64").string()""".stripMargin
    assert(mapped(src, Map.empty, """{"s":"abc"}""") == Seq(
      """{"b":"YWJj","h":"ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad","m":true,"r":"_bc","rt":"abc"}"""))
  }

  test("number + coercion methods") {
    val src = """root.c = this.x.ceil()
                |root.f = this.x.floor()
                |root.r = this.x.round()
                |root.i = this.s.int64()
                |root.t = this.x.type()""".stripMargin
    assert(mapped(src, Map.empty, """{"x":3.7,"s":"42"}""") == Seq(
      """{"c":4,"f":3,"i":42,"r":4,"t":"number"}"""))
  }

  test("timestamp methods") {
    val src = """root.p = this.t.ts_parse("2006-01-02T15:04:05Z07:00").ts_unix()
                |root.f = this.t.ts_parse("2006-01-02T15:04:05Z07:00").ts_format("2006-01-02")
                |root.s = this.t.ts_strptime("%Y-%m-%dT%H:%M:%SZ").ts_strftime("%d/%m/%Y")""".stripMargin
    assert(mapped(src, Map.empty, """{"t":"2021-06-10T09:30:00Z"}""") == Seq(
      """{"f":"2021-06-10","p":1623317400,"s":"10/06/2021"}"""))
  }

  test("array methods") {
    val src = """root.s = this.xs.sum()
                |root.u = this.xs.unique().sort()
                |root.f = this.xs.filter(x -> x > 2)
                |root.m = this.xs.map_each(x -> x * 2)
                |root.first = this.xs.index(0)
                |root.last = this.xs.index(-1)
                |root.j = this.ws.join("-")
                |root.all = this.xs.all(x -> x > 0)
                |root.any = this.xs.any(x -> x > 3)""".stripMargin
    assert(mapped(src, Map.empty, """{"xs":[3,1,2,3],"ws":["a","b"]}""") == Seq(
      """{"all":true,"any":false,"f":[3,3],"first":3,"j":"a-b","last":3,"m":[6,2,4,6],"s":9,"u":["1","2","3"]}"""))
  }

  test("interpolation template compiles to one column") {
    import spark.implicits._
    val df = Seq(("alice", 3L)).toDF("name", "n")
    val c = Blobl.interpolate(df, "user ${! this.name.uppercase() } has ${! this.n + 1 } items")
    assert(df.select(c).as[String].collect().toSeq == Seq("user ALICE has 4 items"))
  }

  test("typed mode compiles to typed columns") {
    import spark.implicits._
    val df = Seq(("hello world", 5L), ("x", 50L)).toDF("text", "n")
    val out = Blobl.mappingTyped(df,
      """root.big = this.n * 10
        |root.head = this.text.slice(0, 5)
        |if this.n >= 50 { root.tag = "hot" } else { root.tag = "cold" }""".stripMargin)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq((50L, "hello", "cold"), (500L, "x", "hot")))
  }

  test("tranche-2 string/number methods") {
    val src = """root.sh = this.h.strip_html()
                |root.esc = this.h.escape_html()
                |root.fp = this.parts.filepath_join()
                |root.fs = "a/b/c".filepath_split()
                |root.band = this.n.bitwise_and(12)
                |root.bor = this.n.bitwise_or(1)
                |root.u16 = this.big.uint16()
                |root.uq = "\"quoted\"".unquote()""".stripMargin
    assert(mapped(src, Map.empty,
      """{"h":"<b>hi</b> there","parts":["x","y"],"n":10,"big":65537}""") == Seq(
      """{"band":8,"bor":11,"esc":"&lt;b&gt;hi&lt;/b&gt; there","fp":"x/y",""" +
        """"fs":["a","b","c"],"sh":"hi there","u16":1,"uq":"quoted"}"""))
  }

  test("tranche-2 object/array methods") {
    val src = """root.kv = this.m.key_values().map_each(e -> e.key)
                |root.w = this.m.with("a", "c")
                |root.mk = this.m.map_each_key(k -> k.uppercase())
                |root.z = this.xs.zip(this.ys)
                |root.sb = this.people.sort_by(p -> p.name).map_each(p -> p.name)
                |root.f = this.xs.find_by(x -> x > 1)
                |root.fa = this.xs.find_all_by(x -> x > 1)""".stripMargin
    assert(mapped(src, Map.empty,
      """{"m":{"a":1,"b":2,"c":3},"xs":[1,2,3],"ys":["p","q","r"],
        |"people":[{"name":"zoe"},{"name":"amy"}]}""".stripMargin.replace("\n", "")) == Seq(
      """{"f":2,"fa":[2,3],"kv":["a","b","c"],"mk":{"A":1,"B":2,"C":3},""" +
        """"sb":["amy","zoe"],"w":{"a":1,"c":3},"z":[[1,"p"],[2,"q"],[3,"r"]]}"""))
  }

  test("tranche-2 parsing/codec methods") {
    val src = """root.lf = this.line.parse_logfmt()
                |root.form = this.q.parse_form_url_encoded()
                |root.jp = this.doc.json_path("inner.x")
                |root.ok = this.doc.json_schema("{\"type\":\"object\"}").catch("invalid")
                |root.rt = this.doc.format_msgpack().parse_msgpack()
                |root.zrt = this.s.compress("gzip").decompress("gzip").string()""".stripMargin
    assert(mapped(src, Map.empty,
      """{"line":"lvl=info n=4","q":"a=1&b=x%20y","doc":{"inner":{"x":7}},"s":"hello"}""") == Seq(
      """{"form":{"a":"1","b":"x y"},"jp":7,"lf":{"lvl":"info","n":"4"},""" +
        """"ok":{"inner":{"x":7}},"rt":{"inner":{"x":7}},"zrt":"hello"}"""))
  }

  test("tranche-2 timestamp methods") {
    val src = """root.tz = this.t.ts_parse("2006-01-02T15:04:05Z").ts_add_iso8601("PT1H30M").ts_unix()
                |root.fmt = this.t.ts_parse("2006-01-02T15:04:05Z").format_timestamp_unix()""".stripMargin
    assert(mapped(src, Map.empty,
      """{"t":"2021-06-01T10:00:00Z"}""") == Seq(
      """{"fmt":1622541600,"tz":1622547000}"""))
  }

  test("message-context and synthetic functions") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, map, lit}
    val df = docs("""{"a":1}""")
      .withColumn("metadata", map(lit("topic"), lit("orders")))
      .withColumn("error", lit(null).cast("string"))
    val out = Blobl.mapping(df,
      """root.t = meta("topic")
        |root.all_meta = meta()
        |root.bad = errored()
        |root.id7 = uuid_v7()
        |root.mail = fake("email")""".stripMargin,
      metadataCol = Some("metadata"))
      .select("value").as[String].collect().head
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(m.get("t").asText == "orders")
    assert(m.get("all_meta").get("topic").asText == "orders")
    assert(!m.get("bad").asBoolean)
    assert(m.get("id7").asText.matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}"))
    assert(m.get("mail").asText.endsWith("@example.com"))
  }

  test("id generators: ulid/ksuid/snowflake formats") {
    import spark.implicits._
    val out = mapped(
      """root.u = ulid()
        |root.k = ksuid()
        |root.s = snowflake_id()""".stripMargin, Map.empty, """{}""").head
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(m.get("u").asText.matches("[0-9A-HJKMNP-TV-Z]{26}"), s"ulid: ${m.get("u")}")
    assert(m.get("k").asText.matches("[0-9A-Za-z]{27}"), s"ksuid: ${m.get("k")}")
    assert(m.get("s").asText.matches("[0-9]{15,19}"), s"snowflake: ${m.get("s")}")
    // time prefix ordering: two ulids a second apart sort correctly
    import graft.functions.expressions.IdOps
    import org.apache.spark.unsafe.types.UTF8String
    val e = UTF8String.fromString("00112233445566778899")
    assert(IdOps.ulid(1000000L, e).toString < IdOps.ulid(2000000L, e).toString)
    assert(IdOps.ksuid(1500000000L, UTF8String.fromString("00" * 16)).toString
      < IdOps.ksuid(1600000000L, UTF8String.fromString("00" * 16)).toString)
  }

  test("collapse/explode/squash object methods") {
    // reference shapes: methods.adoc collapse/explode/squash
    assert(mapped("root = this.collapse()", Map.empty,
      """{"a":{"b":[1,2]},"c":"x"}""") ==
      Seq("""{"a.b.0":1,"a.b.1":2,"c":"x"}"""))
    assert(mapped("""root = this.explode("value")""", Map.empty,
      """{"id":1,"value":[{"t":"a"},{"t":"b"}]}""") ==
      Seq("""[{"id":1,"value":{"t":"a"}},{"id":1,"value":{"t":"b"}}]"""))
    assert(mapped("""root = this.explode("value")""", Map.empty,
      """{"id":1,"value":{"x":{"t":"a"},"y":{"t":"b"}}}""") ==
      Seq("""{"x":{"id":1,"value":{"t":"a"}},"y":{"id":1,"value":{"t":"b"}}}"""))
    assert(mapped("root = this.parts.squash()", Map.empty,
      """{"parts":[{"a":1,"n":{"x":1}},{"b":2,"n":{"y":2}}]}""") ==
      Seq("""{"a":1,"b":2,"n":{"x":1,"y":2}}"""))
  }

  test("aes round-trip and uuid_v5 determinism") {
    val src = """root.rt = this.secret.encrypt_aes("gcm", this.key).decrypt_aes("gcm", this.key).string()
                |root.u5 = this.name.uuid_v5(this.ns)""".stripMargin
    val in = """{"secret":"payload text","key":"0123456789abcdef","name":"example.com","ns":"dns-namespace"}"""
    val out1 = mapped(src, Map.empty, in).head
    val out2 = mapped(src, Map.empty, in).head
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val (n1, n2) = (m.readTree(out1), m.readTree(out2))
    assert(n1.get("rt").asText == "payload text")
    assert(n1.get("u5").asText.matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-5[0-9a-f]{3}-a[0-9a-f]{3}-[0-9a-f]{12}"))
    assert(n1.get("u5") == n2.get("u5"), "uuid_v5 must be deterministic")
  }

  test("parse_xml / format_yaml / parse_duration / replace_many") {
    val src = """root.x = this.xml.parse_xml()
                |root.d = this.dur.parse_duration()
                |root.r = this.s.replace_many("a", "1", "b", "2")
                |root.y = {"k": 1}.format_yaml().parse_yaml()""".stripMargin
    val in = """{"xml":"<order id=\"7\"><item>ball</item><item>bat</item><note>rush</note></order>",
      |"dur":"1h30m","s":"abcabc"}""".stripMargin.replace("\n", "")
    val out = mapped(src, Map.empty, in).head
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(m.get("x").get("order").get("-id").asText == "7")
    assert(m.get("x").get("order").get("item").get(1).asText == "bat")
    assert(m.get("x").get("order").get("note").asText == "rush")
    assert(m.get("d").asLong == 5400000000000L, s"1h30m in ns: ${m.get("d")}")
    assert(m.get("r").asText == "12c12c")
    assert(m.get("y").get("k").asInt == 1)
  }

  test("jwt hs sign/parse, regex objects, iso durations, xml format") {
    val secret = "a-very-long-signing-secret-of-at-least-32-bytes!"
    val src = ("root.claims = this.doc.sign_jwt_hs256(\"" + secret +
      "\").parse_jwt_hs256(\"" + secret + "\")\n" +
      """root.found = this.line.re_find_object("(?<lvl>[A-Z]+) (?<code>[0-9]+)")
        |root.alln = this.line.re_find_all_object("(?<n>[0-9]+)")
        |root.iso = "PT1H30M".parse_duration_iso8601()
        |root.xml = this.frag.format_xml()""".stripMargin)
    val in = """{"doc":{"sub":"u1","role":"admin"},
      |"line":"ERROR 503 then WARN 404",
      |"frag":{"order":{"-id":"7","item":["a","b"]}}}""".stripMargin.replace("\n", "")
    val out = mapped(src, Map.empty, in).head
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(m.get("claims").get("sub").asText == "u1")
    assert(m.get("claims").get("role").asText == "admin")
    assert(m.get("found").get("lvl").asText == "ERROR")
    assert(m.get("found").get("code").asText == "503")
    assert(m.get("alln").size == 2)
    assert(m.get("iso").asLong == 5400000000000L)
    assert(m.get("xml").asText == """<order id="7"><item>a</item><item>b</item></order>""")
  }

  test("unicode_segments: graphemes, words, sentences") {
    val src = """root.g = this.s.unicode_segments("grapheme")
                |root.w = this.s.unicode_segments("word").filter(t -> t.trim() != "")
                |root.n = this.p.unicode_segments("sentence").length()""".stripMargin
    // e + combining acute (2 code points, ONE grapheme cluster); built
    // via escapes so the source file stays ASCII-only
    val eAcute = "e\u0301"
    val in = "{\"s\":\"a" + eAcute + "b cd\",\"p\":\"One. Two! Three?\"}"
    val out = mapped(src, Map.empty, in).head
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(out)
    assert(m.get("g").size == 6, "a, e-acute, b, space, c, d")
    assert(m.get("g").get(1).asText == eAcute)
    assert(m.get("w").size == 2)
    assert(m.get("w").get(0).asText == "a" + eAcute + "b")
    assert(m.get("n").asInt == 3)
  }

  // Runs of field assignments land as one merge; these statements must
  // flush the pending run first so statement order holds. Expected
  // outputs equal those of merging each assignment on its own.
  private val flushInputs = Seq(
    // object carrying deleted markers (left-only ones vanish)
    """{"a":1,"b":{"c":"d"},"s":"str","e":" graft:deleted ","arr":[1," graft:deleted "],"q":{"keep":" graft:deleted "}}""",
    """{"a":2,"b":[1,2],"q":{"r":0},"t":{"x":1}}""",
    """[1,2,3]""",
    """hello world""")

  private val flushCases: Seq[(String, Seq[String])] = Seq(
    // repeated head
    "root = this\nroot.a = 1\nroot.a = 2" -> Seq(
      """{"a":2,"arr":[1],"b":{"c":"d"},"q":{},"s":"str"}""",
      """{"a":2,"b":[1,2],"q":{"r":0},"t":{"x":1}}""", """{"a":2}""", null),
    // repeated head after deleted()
    "root = this\nroot.q = deleted()\nroot.q.r = 1" -> Seq(
      """{"a":1,"arr":[1],"b":{"c":"d"},"q":{"r":1},"s":"str"}""",
      """{"a":2,"b":[1,2],"q":{"r":1},"t":{"x":1}}""", """{"q":{"r":1}}""", null),
    // RHS reads root
    "root.a = 1\nroot.b = root.a\nroot.c = this.b" -> Seq(
      """{"a":1,"b":1,"c":{"c":"d"}}""", """{"a":1,"b":1,"c":[1,2]}""",
      """{"a":1,"b":1,"c":null}""", """{"a":1,"b":1,"c":null}"""),
    // assigned nulls survive the merge
    "root.n = null\nroot.m = this.missing" ->
      Seq.fill(4)("""{"m":null,"n":null}"""),
    // nested paths sharing a head
    "root.t.u = 5\nroot.t.v = 6\nroot.w = 7" ->
      Seq.fill(4)("""{"t":{"u":5,"v":6},"w":7}"""),
    // omit-null value (if without else)
    "root.x = if this.a == 1 { 10 }\nroot.y = 2" -> Seq(
      """{"x":10,"y":2}""", """{"y":2}""", """{"y":2}""", """{"y":2}"""),
    // statement-level if
    "if this.a == 1 { root.z = 1 }\nroot.zz = 2" -> Seq(
      """{"z":1,"zz":2}""", """{"zz":2}""", """{"zz":2}""", """{"zz":2}"""),
    // array segment after a field
    "root.f = 1\nroot.list.\"-\".v = this.a\nroot.g = 2" -> Seq(
      """{"f":1,"g":2,"list":[{"v":1}]}""", """{"f":1,"g":2,"list":[{"v":2}]}""",
      """{"f":1,"g":2,"list":[{"v":null}]}""", """{"f":1,"g":2,"list":[{"v":null}]}"""),
    // whole-root assignment followed by a field
    "root = this.b\nroot.c = 3" -> Seq(
      """{"c":3}""", """{"c":3}""", null, null),
    // let reading root
    "root.a = this.a\nlet r = root.a\nroot.b = $r" -> Seq(
      """{"a":1,"b":1}""", """{"a":2,"b":2}""",
      """{"a":null,"b":null}""", """{"a":null,"b":null}"""))

  test("field-assignment runs: flush rules keep statement order") {
    import spark.implicits._
    for ((src, expected) <- flushCases) {
      val out = Blobl.mapping(docs(flushInputs: _*), src)
        .select("value").as[String].collect().toSeq
      assert(out == expected, s"mapping:\n$src")
    }
    // mutation overlays the input; result_map overlays {"r":1} with
    // `this` = the input
    val overlay = Seq(
      "root.a = 1\nroot.b = root.a\nroot.c = this.b" -> (Seq(
        """{"a":1,"arr":[1],"b":1,"c":{"c":"d"},"q":{},"s":"str"}""",
        """{"a":1,"b":1,"c":[1,2],"q":{"r":0},"t":{"x":1}}""",
        """{"a":1,"b":1,"c":null}"""), Seq(
        """{"a":1,"b":1,"c":{"c":"d"},"r":1}""",
        """{"a":1,"b":1,"c":[1,2],"r":1}""",
        """{"a":1,"b":1,"c":null,"r":1}""")),
      "root.t.u = 5\nroot.t.v = 6\nroot.w = 7" -> (Seq(
        """{"a":1,"arr":[1],"b":{"c":"d"},"q":{},"s":"str","t":{"u":5,"v":6},"w":7}""",
        """{"a":2,"b":[1,2],"q":{"r":0},"t":{"u":5,"v":6,"x":1},"w":7}""",
        """{"t":{"u":5,"v":6},"w":7}"""),
        Seq.fill(3)("""{"r":1,"t":{"u":5,"v":6},"w":7}""")),
      "root.x = if this.a == 1 { 10 }\nroot.y = 2" -> (Seq(
        """{"a":1,"arr":[1],"b":{"c":"d"},"q":{},"s":"str","x":10,"y":2}""",
        """{"a":2,"b":[1,2],"q":{"r":0},"t":{"x":1},"y":2}""",
        """{"y":2}"""), Seq(
        """{"r":1,"x":10,"y":2}""", """{"r":1,"y":2}""", """{"r":1,"y":2}""")))
    val json = flushInputs.take(3)
    for ((src, (mutated, resultMapped)) <- overlay) {
      assert(Blobl.mutation(docs(json: _*), src).select("value").as[String]
        .collect().toSeq == mutated, s"mutation:\n$src")
      val branched = json.map(j => (j, """{"r":1}""")).toDF("value", "doc")
      assert(Blobl.resultMap(branched, src, "value", "doc").select("doc")
        .as[String].collect().toSeq == resultMapped, s"result_map:\n$src")
    }
  }

  test("named map bodies batch their field assignments too") {
    val src = """map m {
                |  root.x = this.a
                |  root.y.z = this.b
                |  root.x2 = 3
                |  root.x = 4
                |}
                |root = this.apply("m")
                |root.w = 1""".stripMargin
    assert(mapped(src, Map.empty, flushInputs.take(3): _*) == Seq(
      """{"w":1,"x":4,"x2":3,"y":{"z":{"c":"d"}}}""",
      """{"w":1,"x":4,"x2":3,"y":{"z":[1,2]}}""",
      """{"w":1,"x":4,"x2":3,"y":{"z":null}}"""))
  }
}
