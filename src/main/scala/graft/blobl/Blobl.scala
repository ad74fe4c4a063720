package graft.blobl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Ast._
import Values._
import Values.{BT, BV}

/** Public API of the Bloblang-subset mapping engine.
  *
  * The reference's `mapping` processor produces a NEW document per
  * message and `mutation` edits in place (docs/modules/components/pages/
  * processors/mapping.adoc:26, mutation.adoc:26); `root = deleted()`
  * drops the message. Both compile here to a single Catalyst projection
  * + filter over the input DataFrame — fully distributed, no
  * row-at-a-time interpreter.
  *
  * JSON-mode cost model, per message: the input is parsed once (`this`);
  * each run of unconditional field assignments (`root.a = …`,
  * `root.b.c = …`) is ONE graft_json_merge — one parse and one write of
  * the document under construction; a normalize runs only when a
  * whole-root assignment (`root = …`) wrote the document last.
  */
object Blobl {

  /** `mapping` over a JSON payload column: builds a fresh document.
    *
    * Input: `df` with `valueCol` (JSON string) and optionally
    * `metadataCol` (map<string,string>). Output: same shape —
    * `value` (normalized JSON, sorted keys), `metadata` when bound —
    * with `root = deleted()` rows filtered out.
    */
  def mapping(df: DataFrame, src: String,
              envVars: Map[String, String] = Map.empty,
              valueCol: String = "value",
              metadataCol: Option[String] = None): DataFrame =
    run(df, src, envVars, valueCol, metadataCol, fresh = true)

  /** `meta x = …` needs somewhere to land: sources without connector
    * metadata (e.g. `generate`) carry no metadata column, but the
    * reference honors meta writes anywhere (bloblang/about.adoc:89-96).
    * Adds an empty map column (and returns its name) only when the
    * mapping actually writes metadata, so plans stay narrow otherwise.
    */
  // assignment form `meta x =` / `meta "x" =` — NOT the meta() reader;
  // statement boundaries may be newlines OR plain spaces (YAML folds
  // quoted-scalar line breaks to spaces)
  private val metaStmt =
    java.util.regex.Pattern.compile(
      "(?:^|[\\s;])meta(?:\\s+[\"'\\w]|\\s*=)")
  def ensureMeta(df: DataFrame, src: String,
                 metadataCol: String = "metadata"): (DataFrame, Option[String]) =
    if (df.columns.contains(metadataCol)) (df, Some(metadataCol))
    else if (!metaStmt.matcher(src).find()) (df, None)
    else (df.withColumn(metadataCol, map().cast(
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType))), Some(metadataCol))

  /** `mutation`: like mapping but assignments overlay the input doc. */
  def mutation(df: DataFrame, src: String,
               envVars: Map[String, String] = Map.empty,
               valueCol: String = "value",
               metadataCol: Option[String] = None): DataFrame =
    run(df, src, envVars, valueCol, metadataCol, fresh = false)

  /** Body of [[mapping]] and [[mutation]]. Per message it parses the
    * input once, merges each run of unconditional field assignments
    * into the document in one graft_json_merge, and normalizes only
    * when a whole-root assignment wrote the document last.
    */
  private def run(df: DataFrame, src: String, envVars: Map[String, String],
                  valueCol: String, metadataCol: Option[String],
                  fresh: Boolean): DataFrame = {
    Compiler.prepare(df)
    val m = Parser.parse(src)
    // try_parse_json: non-JSON content is a legal message (the reference
    // maps raw text via content(); filters.yaml feeds plain strings) —
    // `this` is simply null for it.
    val withThis = df.withColumn("__this", try_parse_json(col(valueCol)))
    val env = Compiler.Env(Compiler.Json(col("__this"), col(valueCol)),
      Map.empty, metadataCol.map(col), envVars,
      batchCol = batchColOf(df))
    val init: Column =
      if (fresh) lit("{}")
      else call_function("graft_json_normalize", col(valueCol))
    val res = Compiler.runStatements(m.stmts, init, env)
    // rows no root assignment touched pass through VERBATIM (not even
    // re-normalized — the content may not be JSON at all)
    val newValue = when(res.assigned, docText(res))
      .otherwise(col(valueCol))
    // one select so value and metadata expressions BOTH see the original
    // input columns (chained withColumn would make the second see the
    // first's replacement)
    val sel = df.columns.map {
      case c if c == valueCol => newValue.as(valueCol)
      case c if metadataCol.contains(c) =>
        res.meta.getOrElse(col(c)).as(c)
      case c => col(c)
    }
    // value/meta/delete expressions may contain window functions
    // (batch_index, from_all) that must see the WHOLE batch: evaluate
    // everything in one projection over the unfiltered frame, then
    // filter on the materialized delete flag
    withThis.select((sel :+ res.deleted.as("__graft_del")).toSeq: _*)
      .filter(!col("__graft_del"))
      .drop("__graft_del")
  }

  /** `branch.result_map` (processors/branch.adoc:26): map fields of a
    * child-branch RESULT document (`this` = `branchCol`) back onto the
    * ORIGINAL document (`root` starts as `rootCol`). The merged doc
    * replaces `rootCol`; `branchCol` is dropped.
    */
  def resultMap(df: DataFrame, src: String,
                branchCol: String, rootCol: String,
                envVars: Map[String, String] = Map.empty,
                metadataCol: Option[String] = None): DataFrame = {
    Compiler.prepare(df)
    val m = Parser.parse(src)
    val env = Compiler.Env(
      Compiler.Json(try_parse_json(col(branchCol)), col(branchCol)),
      Map.empty, metadataCol.map(col), envVars)
    val init = call_function("graft_json_normalize", col(rootCol))
    val res = Compiler.runStatements(m.stmts, init, env)
    // a null branch value means the child pipeline dropped/filtered this
    // part — the reference SKIPS result_map for it (the original document
    // passes through untouched), so gate every merge on isNotNull
    val hasBranch = col(branchCol).isNotNull
    val newValue = when(hasBranch && res.assigned, docText(res))
      .otherwise(col(rootCol))
    val sel = df.columns.filterNot(_ == branchCol).map {
      case c if c == rootCol => newValue.as(rootCol)
      case c if metadataCol.contains(c) =>
        when(hasBranch, res.meta.getOrElse(col(c))).otherwise(col(c)).as(c)
      case c => col(c)
    }
    df.select((sel :+ (hasBranch && res.deleted).as("__graft_del")).toSeq: _*)
      .filter(!col("__graft_del"))
      .drop("__graft_del")
  }

  /** Message content of a mapped document: objects/arrays/numbers keep
    * their normalized JSON text, but a STRING document becomes its raw
    * bytes (unquoted) — the reference's content() view of a string root
    * (config/test/bloblang/walk_json.yaml expects `foo & bar`, not
    * `"foo & bar"`). A canonical root (a merge wrote it last) is an
    * object already in normalized form and is taken as is.
    */
  private def docText(res: Compiler.DocResult): Column =
    if (res.canonical) res.rootJson
    else {
      val norm = call_function("graft_json_normalize", res.rootJson)
      when(norm.startsWith("\""), try_parse_json(norm).cast("string"))
        .otherwise(norm)
    }

  /** `mapping` in TYPED mode: `this.<field>` binds to typed columns and
    * every `root.<name> = …` assignment becomes an output column named
    * `<name>` (nested paths unsupported here — use JSON mode). The fast
    * path for schema-known sources: plans stay fully codegen'd with
    * pushdown-friendly column pruning.
    */
  def mappingTyped(df: DataFrame, src: String,
                   envVars: Map[String, String] = Map.empty): DataFrame = {
    Compiler.prepare(df)
    val m = Parser.parse(src)
    var env = Compiler.Env(Compiler.Typed(df), Map.empty, None, envVars)
    var outCols = Vector.empty[(String, Column)]
    var deleteCond: Column = lit(false)

    def applyStmts(stmts: Seq[Stmt], cond: Option[Column]): Unit = stmts.foreach {
      case LetAssign(name, value) =>
        env = env.withVar(name, Compiler.compile(value, env))
      case RootAssign(Seq(), value) =>
        Compiler.compile(value, env) match {
          case BV(_, BT.Del, _) => deleteCond = deleteCond || cond.getOrElse(lit(true))
          case _ => throw new IllegalArgumentException(
            "whole-root assignment in typed mode supports only deleted()")
        }
      case RootAssign(Seq(name), value) =>
        val v0 = Compiler.compile(value, env)
        val prev = outCols.find(_._1 == name).map(_._2)
        val c = cond match {
          case Some(cc) =>
            // conditional assignment falls back to the prior value of
            // the field (if/else branches compose via coalesce)
            prev.map(p => coalesce(when(cc, v0.col), p))
              .getOrElse(when(cc, v0.col))
          case None => v0.col
        }
        outCols = outCols.filterNot(_._1 == name) :+ (name -> c)
      case RootAssign(segs, _) =>
        throw new IllegalArgumentException(
          s"nested path root.${segs.mkString(".")} unsupported in typed mode")
      case MetaAssign(k, _) =>
        throw new IllegalArgumentException(s"meta $k unsupported in typed mode")
      case IfStmt(c, thn, els) =>
        val cc = coalesce(asBool(Compiler.compile(c, env)), lit(false))
        val thenCond = cond.map(_ && cc).getOrElse(cc)
        applyStmts(thn, Some(thenCond))
        if (els.nonEmpty)
          applyStmts(els, Some(cond.map(_ && !cc).getOrElse(!cc)))
    }

    applyStmts(m.stmts, None)
    df.filter(!deleteCond)
      .select(outCols.map { case (n, c) => c.as(n) }: _*)
  }

  /** Compile a standalone Bloblang expression to a Column in typed mode
    * (for `${! … }` interpolation and predicate fields).
    */
  def exprTyped(df: DataFrame, src: String,
                envVars: Map[String, String] = Map.empty): Column = {
    Compiler.prepare(df)
    val env = Compiler.Env(Compiler.Typed(df), Map.empty, None, envVars)
    Compiler.compile(Parser.parseExpr(src), env).col
  }

  /** Compile a standalone expression against a JSON envelope (`this` =
    * the parsed payload column) — the binding used by config-form
    * predicate fields (`switch.cases[].check`, `group_by.check`,
    * reference processors/switch.adoc:26) where the document is the
    * message payload, not typed columns.
    */
  def exprJson(df: DataFrame, src: String,
               envVars: Map[String, String] = Map.empty,
               valueCol: String = "value",
               metadataCol: Option[String] = None): Column = {
    Compiler.prepare(df)
    val env = Compiler.Env(
      Compiler.Json(try_parse_json(col(valueCol)), col(valueCol)),
      Map.empty, metadataCol.map(col), envVars,
      batchCol = batchColOf(df))
    Compiler.compile(Parser.parseExpr(src), env).col
  }

  /** Like [[exprJson]] but returns the value's JSON TEXT regardless of
    * its compiled type (arrays/objects render as JSON, not as Spark's
    * toString) — for config fields consumed as documents, e.g.
    * sql_raw's args_mapping array.
    */
  def exprJsonText(df: DataFrame, src: String,
                   envVars: Map[String, String] = Map.empty,
                   valueCol: String = "value",
                   metadataCol: Option[String] = None): Column = {
    Compiler.prepare(df)
    val env = Compiler.Env(
      Compiler.Json(try_parse_json(col(valueCol)), col(valueCol)),
      Map.empty, metadataCol.map(col), envVars,
      batchCol = batchColOf(df))
    Values.toJsonText(Compiler.compile(Parser.parseExpr(src), env))
  }

  /** Batch identity column when the envelope carries one — batch-scoped
    * functions (batch_index/batch_size/from_all/from) partition by it. */
  private def batchColOf(df: DataFrame): Option[Column] =
    if (df.columns.contains("__batch")) Some(col("__batch")) else None

  /** Boolean predicate over the JSON envelope; null ⇒ false (the
    * reference's check fields treat non-true as no-match).
    */
  def predicateJson(df: DataFrame, src: String,
                    envVars: Map[String, String] = Map.empty,
                    valueCol: String = "value",
                    metadataCol: Option[String] = None): Column =
    coalesce(exprJson(df, src, envVars, valueCol, metadataCol)
      .cast("boolean"), lit(false))

  /** Interpolation `text ${! expr } text` with `this` bound to the JSON
    * payload (config-form string fields, e.g. `group_by_value.value`,
    * cache keys — docs/…/processors/group_by_value.adoc:26).
    */
  def interpolateJson(df: DataFrame, template: String,
                      envVars: Map[String, String] = Map.empty,
                      valueCol: String = "value",
                      metadataCol: Option[String] = None): Column =
    interpolateWith(template,
      src => exprJson(df, src, envVars, valueCol, metadataCol))

  private def interpolateWith(template: String,
                              compile: String => Column): Column = {
    val parts = scala.collection.mutable.Buffer.empty[Column]
    val re = java.util.regex.Pattern.compile("\\$\\{!([^}]*)\\}")
    val mt = re.matcher(template)
    var last = 0
    while (mt.find()) {
      if (mt.start() > last) parts += lit(template.substring(last, mt.start()))
      parts += compile(mt.group(1).trim).cast("string")
      last = mt.end()
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
  }

  /** Interpolation string `text ${! expr } text` → one string Column
    * (reference: docs/…/configuration — `${! … }` in any field).
    */
  def interpolate(df: DataFrame, template: String,
                  envVars: Map[String, String] = Map.empty): Column =
    interpolateWith(template, src => exprTyped(df, src, envVars))
}
