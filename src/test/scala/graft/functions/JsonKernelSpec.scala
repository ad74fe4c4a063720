package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.expressions.JsonKernel

/** The JSON kernels' streaming writer against a reference writer that
  * renders every key and scalar through `JsonNode.toString`: the output
  * must be byte-identical (escaping, sorted keys, Go-style integral
  * floats) over a generated corpus, and merge output must already be
  * canonical.
  */
class JsonKernelSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()
  private val Deleted = JsonKernel.DeletedSentinel

  /** Reference canonical form: per-leaf toString writer, deleted markers
    * stripped, merge keeping left-only values as they are. */
  private object Ref {
    def isDeleted(n: JsonNode): Boolean = n.isTextual && n.asText() == Deleted

    def strip(n: JsonNode): JsonNode = n match {
      case o: ObjectNode =>
        val out = mapper.createObjectNode()
        o.fields().forEachRemaining { e =>
          if (!isDeleted(e.getValue)) { out.set[JsonNode](e.getKey, strip(e.getValue)); () }
        }
        out
      case a: ArrayNode =>
        val out = mapper.createArrayNode()
        a.forEach(el => if (!isDeleted(el)) { out.add(strip(el)); () })
        out
      case other => other
    }

    def merge(l: JsonNode, r: JsonNode): JsonNode = (l, r) match {
      case (lo: ObjectNode, ro: ObjectNode) =>
        val out = mapper.createObjectNode()
        val names = new java.util.TreeSet[String]()
        lo.fieldNames().forEachRemaining(n => names.add(n))
        ro.fieldNames().forEachRemaining(n => names.add(n))
        names.forEach { n =>
          val lv = lo.get(n)
          val rv = ro.get(n)
          if (rv == null) { out.set[JsonNode](n, lv); () }
          else if (isDeleted(rv)) ()
          else if (lv == null) { out.set[JsonNode](n, strip(rv)); () }
          else { out.set[JsonNode](n, merge(lv, rv)); () }
        }
        out
      case (_, rv) => strip(rv)
    }

    def write(n: JsonNode): String = {
      val sb = new java.lang.StringBuilder
      writeNode(n, sb)
      sb.toString
    }

    private def writeNode(n: JsonNode, sb: java.lang.StringBuilder): Unit = n match {
      case o: ObjectNode =>
        sb.append('{')
        val names = new java.util.TreeSet[String]()
        o.fieldNames().forEachRemaining(x => names.add(x))
        var first = true
        names.forEach { k =>
          if (!first) sb.append(',')
          first = false
          sb.append(new TextNode(k).toString).append(':')
          writeNode(o.get(k), sb)
        }
        sb.append('}')
        ()
      case a: ArrayNode =>
        sb.append('[')
        var first = true
        a.forEach { el =>
          if (!first) sb.append(',')
          first = false
          writeNode(el, sb)
        }
        sb.append(']')
        ()
      case other =>
        if (other.isFloatingPointNumber) {
          val d = other.asDouble()
          if (!d.isInfinite && !d.isNaN && d == Math.rint(d) &&
              d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble)
            sb.append(d.toLong)
          else sb.append(other.toString)
        } else sb.append(other.toString)
        ()
    }

    def normalize(json: String): String = write(strip(mapper.readTree(json)))
  }

  // ── generated corpus ────────────────────────────────────────────────

  private val numbers = Seq("0", "-1", "42", "2147483648", "-9223372036854775808",
    "9223372036854775807", "9223372036854775808", "-9223372036854775809",
    "1234567890123456789012345678901234567890",
    "-1234567890123456789012345678901234567890",
    "1e300", "-1e300", "1.0E-7", "-0.0", "0.0", "11.0", "2.5", "-3.75",
    "1e18", "1e19", "1.7976931348623157E308", "4.9E-324", "0.1", "123.456e2",
    "0.30000000000000004", "1E+2")

  // non-ASCII via escapes so the source stays ASCII-only
  private val texts = Seq("", "plain", "caf\u00e9", "\u4e2d\u6587",
    "\ud83d\ude00 emoji", "lone \ud800", "quote\"in", "back\\slash", "sl/ash", "</script>",
    "tab\tnl\ncr\r", "\u0000nul", "\u0001\u001f\u007f", "\u2028\u2029",
    "mixed \"\\/\b\f", Deleted)

  /** JSON text of a string for the INPUT side: quote, backslash,
    * control characters and surrogates escaped, a solidus sometimes. */
  private def quote(s: String, r: scala.util.Random): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '/' if r.nextBoolean() => sb ++= "\\/"
      case c if c < 0x20 || Character.isSurrogate(c) =>
        sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  private val keys = Seq("a", "b", "c", "", "caf\u00e9", "k\"q", "x/y", "B",
    "\ud83d\ude00", "n\u0001")

  private def genValue(r: scala.util.Random, depth: Int): String =
    r.nextInt(if (depth > 0) 9 else 5) match {
      case 0 | 1 => quote(texts(r.nextInt(texts.length)), r)
      case 2 => numbers(r.nextInt(numbers.length))
      case 3 => Seq("true", "false", "null")(r.nextInt(3))
      case 4 => quote(Deleted, r)
      case 5 | 6 | 7 =>
        val ks = r.shuffle(keys).take(r.nextInt(5))
        ks.map(k => quote(k, r) + ":" + genValue(r, depth - 1)).mkString("{", ",", "}")
      case _ =>
        Seq.fill(r.nextInt(4))(genValue(r, depth - 1)).mkString("[", ",", "]")
    }

  private def deep(n: Int): String =
    (0 until n).foldRight("\"leaf\"")((i, acc) =>
      if (i % 2 == 0) s"""{"k$i":$acc,"e":{}}""" else s"[$acc,[]]")

  private val corpus: Seq[String] = {
    val r = new scala.util.Random(20261017L)
    Seq("{}", "[]", "null", "true", "\"s\"", deep(60),
      numbers.mkString("[", ",", "]"),
      texts.map(quote(_, r)).mkString("[", ",", "]")) ++
      Seq.fill(400)(genValue(r, 5)) ++
      Seq.fill(400)("{" + r.shuffle(keys).take(1 + r.nextInt(6))
        .map(k => quote(k, r) + ":" + genValue(r, 4)).mkString(",") + "}")
  }

  private def u(s: String) = UTF8String.fromString(s)

  test("streaming writer is byte-identical to the per-leaf toString writer") {
    corpus.foreach { j =>
      assert(JsonKernel.normalize(u(j)) == u(Ref.normalize(j)), s"input: $j")
    }
  }

  test("merge equals the reference merge + normalize, and is canonical") {
    val objs = corpus.filter(_.startsWith("{"))
    val r = new scala.util.Random(7L)
    (0 until 600).foreach { _ =>
      val a = if (r.nextInt(5) == 0) corpus(r.nextInt(corpus.length))
        else objs(r.nextInt(objs.length))
      val b = objs(r.nextInt(objs.length))
      val got = JsonKernel.merge(u(a), u(b))
      assert(got ==
        u(Ref.write(Ref.strip(Ref.merge(mapper.readTree(a), mapper.readTree(b))))),
        s"merge($a, $b)")
      assert(JsonKernel.normalize(got) == got, s"merge($a, $b) not canonical")
    }
  }

  test("merge strips deleted markers that appear only on the left") {
    val a = s"""{"keep":1,"gone":"$Deleted","n":{"x":"$Deleted","y":[1,"$Deleted",2]}}"""
    val merged = JsonKernel.merge(u(a), u("""{"z":1.0}"""))
    assert(merged.toString == """{"keep":1,"n":{"y":[1,2]},"z":1}""")
    assert(JsonKernel.normalize(merged) == merged)
  }
}
