package graft.functions.expressions

import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, BooleanNode, MissingNode, NumericNode, ObjectNode, TextNode}
import org.apache.spark.unsafe.types.UTF8String

/** JSON tree kernels behind the graft_json_* Catalyst expressions —
  * deep merge, key-sorted normalization, and field projection for the
  * Bloblang `merge`/`with`/`without` methods and the mapping compiler's
  * assignment overlay (reference: docs/modules/guides/pages/bloblang/
  * methods.adoc `merge`, `without`, `with`).
  *
  * Uses Jackson (already on the Spark classpath). All entry points take
  * and return UTF8String so generated code calls them statically, like
  * [[HashOps]].
  */
object JsonKernel {
  private val mapper = new ObjectMapper()

  /** Keys/elements holding exactly this string value are treated as
    * `deleted()` markers and removed during merge/normalize.
    */
  final val DeletedSentinel = " graft:deleted "

  private def isDeleted(n: JsonNode): Boolean =
    n.isTextual && n.asText() == DeletedSentinel

  /** Deep merge: object∪object merges recursively (right wins on
    * conflict); right-side deleted-sentinel removes the key; any other
    * right value replaces. Output keys sorted (the reference engine
    * serializes objects with sorted keys, Go map marshaling). Deleted
    * markers on EITHER side are stripped, so the output is already
    * canonical: `normalize(merge(a, b)) == merge(a, b)`.
    */
  def merge(left: UTF8String, right: UTF8String): UTF8String = {
    val l = mapper.readTree(left.toString)
    val r = mapper.readTree(right.toString)
    UTF8String.fromString(write(mergeNodes(l, r)))
  }

  private def mergeNodes(l: JsonNode, r: JsonNode): JsonNode = (l, r) match {
    case (lo: ObjectNode, ro: ObjectNode) =>
      val out = mapper.createObjectNode()
      val names = new java.util.TreeSet[String]()
      lo.fieldNames().forEachRemaining(n => names.add(n))
      ro.fieldNames().forEachRemaining(n => names.add(n))
      names.forEach { n =>
        val lv = lo.get(n)
        val rv = ro.get(n)
        if (rv == null) { if (!isDeleted(lv)) { out.set(n, stripDeleted(lv)); () } }
        else if (isDeleted(rv)) () // removed
        else if (lv == null) { out.set(n, stripDeleted(rv)); () }
        else { out.set(n, mergeNodes(lv, rv)); () }
      }
      out
    case (_, rv) => stripDeleted(rv)
  }

  /** Remove deleted-sentinel object values / array elements recursively. */
  private def stripDeleted(n: JsonNode): JsonNode = n match {
    case o: ObjectNode =>
      val out = mapper.createObjectNode()
      o.fields().forEachRemaining { e =>
        if (!isDeleted(e.getValue)) { out.set(e.getKey, stripDeleted(e.getValue)); () }
      }
      out
    case a: ArrayNode =>
      val out = mapper.createArrayNode()
      a.forEach(el => if (!isDeleted(el)) { out.add(stripDeleted(el)); () })
      out
    case other => other
  }

  /** Canonical form: keys sorted recursively, deleted markers stripped. */
  def normalize(json: UTF8String): UTF8String = {
    val n = mapper.readTree(json.toString)
    UTF8String.fromString(write(stripDeleted(n)))
  }

  /** Drop the named top-level (dot-separated = nested) paths. */
  def without(json: UTF8String, keys: UTF8String): UTF8String = {
    val n = mapper.readTree(json.toString)
    keys.toString.split(',').foreach { path =>
      removePath(n, path.trim.split('.').toList)
    }
    UTF8String.fromString(write(n))
  }

  private def removePath(n: JsonNode, path: List[String]): Unit = (n, path) match {
    case (o: ObjectNode, k :: Nil) => { o.remove(k); () }
    case (o: ObjectNode, k :: rest) =>
      val child = o.get(k); if (child != null) removePath(child, rest)
    case _ => ()
  }

  /** `collapse` (methods.adoc object section): nested structure →
    * FLAT object keyed by dot paths (arrays index numerically):
    * {"a":{"b":[1]}} → {"a.b.0":1}.
    */
  def collapse(json: UTF8String): UTF8String = {
    val out = mapper.createObjectNode()
    def walk(n: JsonNode, prefix: String): Unit = n match {
      case o: ObjectNode if o.size() > 0 =>
        o.properties().forEach { e =>
          walk(e.getValue,
            if (prefix.isEmpty) e.getKey else s"$prefix.${e.getKey}")
        }
      case a: ArrayNode if a.size() > 0 =>
        var i = 0
        while (i < a.size()) {
          walk(a.get(i), if (prefix.isEmpty) i.toString else s"$prefix.$i")
          i += 1
        }
      case leaf => out.set[JsonNode](prefix, leaf); ()
    }
    walk(mapper.readTree(json.toString), "")
    UTF8String.fromString(write(out))
  }

  /** `explode` at a path holding an array (one doc per element, the
    * element replacing the array) or an object (one doc per value,
    * keyed map result) — methods.adoc explode.
    */
  def explodePath(json: UTF8String, path: UTF8String): UTF8String = {
    val root = mapper.readTree(json.toString)
    val segs = path.toString.split("\\.").toList
    def parentOf(n: JsonNode, p: List[String]): (ObjectNode, String) = p match {
      case last :: Nil => (n.asInstanceOf[ObjectNode], last)
      case head :: rest => parentOf(n.get(head), rest)
      case Nil => throw new IllegalArgumentException("empty explode path")
    }
    val (parent, key) = parentOf(root, segs)
    val target = parent.get(key)
    val results: JsonNode = target match {
      case a: ArrayNode =>
        val arr = mapper.createArrayNode()
        a.forEach { el =>
          val copy = root.deepCopy[JsonNode]()
          val (p2, k2) = parentOf(copy, segs)
          p2.set[JsonNode](k2, el)
          arr.add(copy)
        }
        arr
      case o: ObjectNode =>
        val obj = mapper.createObjectNode()
        o.properties().forEach { e =>
          val copy = root.deepCopy[JsonNode]()
          val (p2, k2) = parentOf(copy, segs)
          p2.set[JsonNode](k2, e.getValue)
          obj.set[JsonNode](e.getKey, copy)
        }
        obj
      case other => throw new IllegalArgumentException(
        s"explode target must be array or object, got $other")
    }
    UTF8String.fromString(write(results))
  }

  /** `squash`: array of objects → one deep-merged object
    * (methods.adoc squash).
    */
  def squash(json: UTF8String): UTF8String = {
    val arr = mapper.readTree(json.toString)
    require(arr.isArray, "squash expects an array of objects")
    var acc: JsonNode = mapper.createObjectNode()
    arr.forEach(el => acc = mergeNodes(acc, el))
    UTF8String.fromString(write(acc))
  }

  /** `assign` (methods.adoc assign): merge with override — on key
    * conflict the source value REPLACES (recursing into object∪object);
    * array∪array concatenates.
    */
  def assign(left: UTF8String, right: UTF8String): UTF8String = {
    val l = mapper.readTree(left.toString)
    val r = mapper.readTree(right.toString)
    UTF8String.fromString(write(assignNodes(l, r)))
  }

  private def assignNodes(l: JsonNode, r: JsonNode): JsonNode = (l, r) match {
    case (lo: ObjectNode, ro: ObjectNode) =>
      val out = lo.deepCopy[ObjectNode]()
      ro.properties().forEach { e =>
        val lv = out.get(e.getKey)
        if (lv == null) out.set[JsonNode](e.getKey, e.getValue)
        else out.set[JsonNode](e.getKey, assignNodes(lv, e.getValue))
      }
      out
    case (la: ArrayNode, ra: ArrayNode) =>
      val out = la.deepCopy[ArrayNode]()
      ra.forEach(el => { out.add(el); () })
      out
    case (_, rv) => rv
  }

  /** `diff` (methods.adoc diff): changelog of create/update/delete ops
    * between `before` and `after`, each `{"From":…,"Path":[…],"To":…,
    * "Type":…}` — the r3 diff changelog shape the reference emits.
    * Paths walk objects by key (sorted) and arrays by string index.
    */
  /** Path assignment with ARRAY semantics (bloblang path assignment:
    * `root.fallback."-".retry = x` appends, `root.fallback."0".x = y`
    * indexes — config/template_examples/output_dead_letter.yaml).
    * `pathJson` is a JSON array of segments; a numeric segment indexes
    * (padding with nulls), `-` appends, anything else is an object key.
    * Containers are created on the way down, typed by the NEXT segment.
    * A deleted-sentinel value removes the addressed key/element.
    */
  def setPath(doc: UTF8String, pathJson: UTF8String,
              value: UTF8String): UTF8String = {
    val segs = {
      val it = mapper.readTree(pathJson.toString).elements()
      val b = List.newBuilder[String]
      while (it.hasNext) b += it.next().asText()
      b.result()
    }
    require(segs.nonEmpty, "setPath: empty path")
    val v = mapper.readTree(value.toString)
    def isIdx(s: String) = s == "-" || s.forall(_.isDigit)
    val parsed = if (doc == null) null else mapper.readTree(doc.toString)
    val root: JsonNode =
      if (parsed != null && (parsed.isObject || parsed.isArray)) parsed
      else if (isIdx(segs.head)) mapper.createArrayNode()
      else mapper.createObjectNode()
    def container(next: String): JsonNode =
      if (isIdx(next)) mapper.createArrayNode()
      else mapper.createObjectNode()
    def descend(cur: JsonNode, seg: String, next: String): JsonNode =
      cur match {
        case o: ObjectNode =>
          val c = o.get(seg)
          if (c != null && (c.isObject || c.isArray)) c
          else { val n = container(next); o.set[JsonNode](seg, n); n }
        case a: ArrayNode =>
          val i = if (seg == "-") a.size else seg.toInt
          while (a.size <= i) a.addNull()
          val c = a.get(i)
          if (c != null && (c.isObject || c.isArray)) c
          else { val n = container(next); a.set(i, n); n }
        case other => throw new IllegalArgumentException(
          s"setPath: cannot descend into $other at '$seg'")
      }
    def setLeaf(cur: JsonNode, seg: String): Unit = cur match {
      case o: ObjectNode =>
        if (isDeleted(v)) { o.remove(seg); () }
        else { o.set[JsonNode](seg, v); () }
      case a: ArrayNode =>
        if (seg == "-") { a.add(v); () }
        else {
          val i = seg.toInt
          if (isDeleted(v)) { if (i < a.size) a.remove(i); () }
          else { while (a.size <= i) a.addNull(); a.set(i, v); () }
        }
      case other => throw new IllegalArgumentException(
        s"setPath: cannot assign into $other at '$seg'")
    }
    var cur = root
    segs.zipWithIndex.foreach { case (seg, i) =>
      if (i == segs.length - 1) setLeaf(cur, seg)
      else cur = descend(cur, seg, segs(i + 1))
    }
    UTF8String.fromString(write(root))
  }

  def diff(before: UTF8String, after: UTF8String): UTF8String = {
    val out = mapper.createArrayNode()
    def emit(tpe: String, path: List[String], from: JsonNode, to: JsonNode): Unit = {
      val o = mapper.createObjectNode()
      o.set[JsonNode]("From", Option(from).getOrElse(mapper.nullNode()))
      val p = mapper.createArrayNode()
      path.foreach(p.add)
      o.set[JsonNode]("Path", p)
      o.set[JsonNode]("To", Option(to).getOrElse(mapper.nullNode()))
      o.put("Type", tpe)
      out.add(o)
      ()
    }
    def walk(b: JsonNode, a: JsonNode, path: List[String]): Unit = (b, a) match {
      case (bo: ObjectNode, ao: ObjectNode) =>
        val names = new java.util.TreeSet[String]()
        bo.fieldNames().forEachRemaining(n => names.add(n))
        ao.fieldNames().forEachRemaining(n => names.add(n))
        names.forEach { n =>
          (Option(bo.get(n)), Option(ao.get(n))) match {
            case (Some(bv), Some(av)) => walk(bv, av, path :+ n)
            case (Some(bv), None) => emit("delete", path :+ n, bv, null)
            case (None, Some(av)) => emit("create", path :+ n, null, av)
            case _ =>
          }
        }
      case (ba: ArrayNode, aa: ArrayNode) =>
        val n = Math.max(ba.size(), aa.size())
        var i = 0
        while (i < n) {
          (Option(ba.get(i)), Option(aa.get(i))) match {
            case (Some(bv), Some(av)) => walk(bv, av, path :+ i.toString)
            case (Some(bv), None) => emit("delete", path :+ i.toString, bv, null)
            case (None, Some(av)) => emit("create", path :+ i.toString, null, av)
            case _ =>
          }
          i += 1
        }
      case (bv, av) =>
        if (bv != av) emit("update", path, bv, av)
    }
    walk(mapper.readTree(before.toString), mapper.readTree(after.toString), Nil)
    UTF8String.fromString(write(out))
  }

  /** `patch` (methods.adoc patch): apply a diff-format changelog —
    * create/update set the value at Path, delete removes it.
    */
  def patchChangelog(value: UTF8String, changelog: UTF8String): UTF8String = {
    val root = mapper.readTree(value.toString)
    val log = mapper.readTree(changelog.toString)
    require(log.isArray, "patch expects a changelog array")
    log.forEach { op =>
      val path = {
        val b = List.newBuilder[String]
        op.get("Path").forEach(p => b += p.asText())
        b.result()
      }
      def containerOf(n: JsonNode, p: List[String]): (JsonNode, String) = p match {
        case last :: Nil => (n, last)
        case head :: rest =>
          val next = n match {
            case o: ObjectNode =>
              if (o.get(head) == null) o.set[JsonNode](head, mapper.createObjectNode())
              o.get(head)
            case a: ArrayNode => a.get(head.toInt)
            case other => throw new IllegalArgumentException(
              s"patch path into scalar at '$head': $other")
          }
          containerOf(next, rest)
        case Nil => throw new IllegalArgumentException("empty patch path")
      }
      val (parent, key) = containerOf(root, path)
      (op.get("Type").asText(), parent) match {
        case ("delete", o: ObjectNode) => o.remove(key); ()
        case ("delete", a: ArrayNode) => a.remove(key.toInt); ()
        case (_, o: ObjectNode) => o.set[JsonNode](key, op.get("To")); ()
        case (_, a: ArrayNode) =>
          val i = key.toInt
          if (i < a.size()) { a.set(i, op.get("To")); () }
          else { a.add(op.get("To")); () }
        case (t, other) => throw new IllegalArgumentException(
          s"patch $t into scalar container: $other")
      }
    }
    UTF8String.fromString(write(root))
  }

  /** `infer_schema` (methods.adoc infer_schema): JSON-Schema-style
    * description of a value — type, object properties, array items
    * (unioned across elements).
    */
  def inferSchema(value: UTF8String): UTF8String = {
    def infer(n: JsonNode): JsonNode = {
      val o = mapper.createObjectNode()
      n match {
        case obj: ObjectNode =>
          o.put("type", "object")
          val props = mapper.createObjectNode()
          obj.properties().forEach(e =>
            { props.set[JsonNode](e.getKey, infer(e.getValue)); () })
          o.set[JsonNode]("properties", props)
        case arr: ArrayNode =>
          o.put("type", "array")
          if (arr.size() > 0) o.set[JsonNode]("items", infer(arr.get(0)))
        case v if v.isTextual => o.put("type", "string")
        case v if v.isIntegralNumber => o.put("type", "integer")
        case v if v.isNumber => o.put("type", "number")
        case v if v.isBoolean => o.put("type", "boolean")
        case _ => o.put("type", "null")
      }
      o
    }
    UTF8String.fromString(write(infer(mapper.readTree(value.toString))))
  }

  private val factory = mapper.getFactory

  /** Serialize with sorted object keys at every level, streaming the
    * whole document through ONE generator.
    */
  private def write(n: JsonNode): String = {
    val out = new java.io.StringWriter
    val g = factory.createGenerator(out)
    writeNode(n, g)
    g.close()
    out.toString
  }

  private def writeNode(n: JsonNode, g: JsonGenerator): Unit = n match {
    case o: ObjectNode =>
      g.writeStartObject()
      val names = new java.util.TreeSet[String]()
      o.fieldNames().forEachRemaining(x => names.add(x))
      names.forEach { k =>
        g.writeFieldName(k)
        writeNode(o.get(k), g)
      }
      g.writeEndObject()
    case a: ArrayNode =>
      g.writeStartArray()
      a.forEach(el => writeNode(el, g))
      g.writeEndArray()
    case t: TextNode => g.writeString(t.textValue)
    case b: BooleanNode => g.writeBoolean(b.booleanValue)
    case num: NumericNode if num.isFloatingPointNumber && isIntegral(num.doubleValue) =>
      // Go encoding/json semantics (the reference engine's serializer):
      // integral floats print without a decimal point (11.0 → 11)
      g.writeNumber(num.doubleValue.toLong)
    case num: NumericNode => g.writeNumber(num.asText)
    case _: MissingNode => () // empty input: no text at all
    case _ => g.writeNull()
  }

  private def isIntegral(d: Double): Boolean =
    !d.isInfinite && !d.isNaN && d == Math.rint(d) &&
      d >= Long.MinValue.toDouble && d <= Long.MaxValue.toDouble
}
