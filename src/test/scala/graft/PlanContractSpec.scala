package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins

/** Plan contracts: the scale claims each operator's docs make must be
  * visible in the physical plan — filters reach the parquet scan,
  * column pruning holds, dims broadcast, top-k prunes before the final
  * sort. A regression here is a performance bug even when results stay
  * correct.
  */
class PlanContractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("filters and column pruning reach the parquet scan") {
    val q = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"),
      s"filter not pushed:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"columns not pruned:\n$plan")
  }

  test("dim-table enrichment broadcasts the small side") {
    val q = Joins.enrichmentLookup(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey"),
      Tables.part(spark, sf), col("l_partkey"), "p_partkey", Seq("p_brand"))
    assert(q.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "lookup join must broadcast the dim side")
  }

  test("top-k prunes via WindowGroupLimit before the shuffle") {
    val q = SparkEntry.queries("q6_window_rank")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank<=k filter must prune partial groups before the exchange:\n$plan")
  }

  test("near-dup pipeline shuffles hashed longs, not text") {
    // the inverted index exchanges 8-byte shingle hashes — no string
    // shingles or token arrays may appear in any exchange's input row.
    // AQE + broadcast off so EnsureRequirements materializes the real
    // shuffle nodes at this tiny scale factor too.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = operators.Dedupe.ngramJaccardPairs(
        Tables.documents(spark, sf), "text", "doc_id", 3, 0.35)
      val exchanges = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.schema.map(_.dataType.simpleString)
      }
      assert(exchanges.nonEmpty, "expected shuffle exchanges in the plan")
      exchanges.flatten.foreach { t =>
        assert(!t.contains("array<string>"),
          s"shuffle carries raw shingle text ($t)")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("geoip range lookup is a broadcast HASH join (no nested loop)") {
    val q = SparkEntry.queries("p_geoip")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // binned equi-join: a BroadcastNestedLoopJoin here would mean every
    // probe row compares against EVERY range — a scale-killer at real
    // MaxMind size (~3M ranges)
    assert(plan.contains("BroadcastHashJoin"),
      s"range join must hash-join on the IP-prefix bin:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join degenerated to a nested loop:\n$plan")
    // the fact side must NOT shuffle before the join: the only
    // exchanges allowed are the broadcast itself and the post-join agg
    val shuffles = q.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"unexpected extra shuffles (${shuffles.size}) in range-lookup plan")
  }

  test("archive folds with ONE shuffle (partial aggregation map-side)") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val q = operators.BatchOps.archiveLines(
        Tables.documents(spark, sf), col("lang"), col("text"), col("doc_id"))
      val shuffles = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.size == 1,
        s"archive must be a single exchange on the group key, saw ${shuffles.size}")
      val aggs = q.queryExecution.executedPlan.collect {
        case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
      }
      assert(aggs.size >= 2, "expected partial + final aggregation")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("whileLoop keeps plan depth constant across iterations") {
    val base = Tables.documents(spark, sf).filter(col("doc_id") < 100)
      .select(col("doc_id"), (col("doc_id") % 10).as("kv"))
    var depths = List.empty[Int]
    operators.FlowControl.whileLoop(base,
      cur => {
        depths ::= cur.queryExecution.optimizedPlan
          .collect { case p => p }.size
        !cur.filter(col("kv") < 8).isEmpty
      },
      cur => cur.withColumn("kv",
        when(col("kv") < 8, col("kv") + 3).otherwise(col("kv"))),
      maxIters = 10)
    // after the first localCheckpoint every iteration's plan is a
    // Project over the checkpointed RDD — depth must not grow with k
    val afterFirst = depths.reverse.drop(1)
    assert(afterFirst.nonEmpty && afterFirst.distinct.size == 1,
      s"plan depth grew across iterations: ${depths.reverse}")
  }

  test("http enrichment is a narrow map — zero shuffles") {
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").as("value"))
    val q = operators.Http.enrich(base, lit("stub://svc/ok"), "POST",
      Map.empty, 16, operators.Http.echoClient)
    val shuffles = q.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      "the http transport must not introduce exchanges")
  }

  test("batched policy formation is per-partition — zero shuffles") {
    val base = Tables.documents(spark, sf)
      .select(col("doc_id").as("__seq"), col("text").as("value"))
    val q = operators.BatchOps.formBatches(base, "__seq", count = 10)
    val shuffles = q.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      "batch formation must be one ordered pass per partition")
  }

  test("command/subprocess are narrow maps — zero shuffles") {
    val base = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text").as("value"))
    for (q <- Seq(
        operators.Command.perMessage(base, Seq("cat")),
        operators.Command.perPartition(base, Seq("cat")))) {
      val shuffles = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        "process-pipe operators must not introduce exchanges")
    }
  }

  test("plugin row kernels (wasm/ffi/transform) are narrow — zero shuffles") {
    // wasm, ffi, and redpanda_data_transform all run as mapPartitions
    // row kernels: no exchange may appear beyond what the CALLER adds
    // explicitly. The args_mapping projection (ffi) must also stay
    // inside the same stage.
    val base = Tables.documents(spark, sf)
      .select(col("text").as("value"))
      .withColumn("metadata", map().cast("map<string,string>"))
      .withColumn("error", lit(null).cast("string"))
    val lib = operators.FfiDemo.ensureLib()
    for (q <- Seq(
        operators.Wasm.processor(base, wasm.DemoModules.upperLen()),
        operators.RedpandaTransform.processor(
          base, wasm.TransformModules.reverseValue()),
        operators.Ffi.processor(base, lib, "GraftReverseBytes",
          operators.Ffi.Signature(operators.Ffi.RInt32,
            Seq(operators.Ffi.Param(operators.Ffi.PBytePtr),
              operators.Ffi.Param(operators.Ffi.PBytePtr, out = true),
              operators.Ffi.Param(operators.Ffi.PInt32))),
          "root = [content(), content(), content().length()]"))) {
      val shuffles = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.isEmpty,
        "plugin row kernels must not introduce exchanges")
    }
  }

  test("kernel queries keep the sort BELOW the kernel projection") {
    // a global sort's range exchange samples its child plan, so an
    // expensive kernel above the sort runs once while a kernel below it
    // runs twice — SparkEntry's kernel queries must plan as
    // Project(kernel) over Sort over the raw scan (see the SparkEntry
    // header's determinism notes)
    // AQE off: executedPlan of an un-run adaptive plan hides the
    // physical sort nodes from collect()
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (name <- Seq("p_compress", "p_protobuf", "b_hash_encode")) {
        val q = SparkEntry.queries(name)(spark, sf)
        val plan = q.queryExecution.executedPlan
        val sorts = plan.collect {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        assert(sorts.nonEmpty, s"$name: expected a global sort in the plan")
        // the sort's input must be raw table columns only — no kernel
        // output columns (which would mean the projection sank below it)
        sorts.foreach { s =>
          val cols = s.child.schema.fieldNames.toSet
          val rawCols = Set("doc_id", "text", "lang", "source", "n_chars",
            "event_id", "user_id", "event_type", "value", "props", "ts")
          assert(cols.subsetOf(rawCols),
            s"$name: sort input carries derived columns: $cols")
        }
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("iceberg readTable pushes filters and pruning into the parquet scan") {
    import spark.implicits._
    val loc = java.nio.file.Files.createTempDirectory("iceberg_plan").toString
    graft.sinks.Iceberg.append((0L until 100L).map(k => (k, s"v$k", k % 4))
      .toDF("k", "v", "pb"), loc, partitionCols = Seq("pb"))
    // the manifest-planned file list feeds a PLAIN parquet relation, so
    // Catalyst's pushdown/pruning apply untouched — the property that
    // keeps reads fast at 100 TB
    val q = graft.sinks.Iceberg.readTable(spark, loc)
      .filter(col("k") > 50).select("k", "pb")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(k), GreaterThan(k,50)"),
      s"filter not pushed into the iceberg data files:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint,pb:bigint>"),
      s"columns not pruned:\n$plan")
    // file-level partition pruning is the planFiles contract
    val pruned = graft.sinks.Iceberg.planFiles(spark, loc)
      .filter(_.partition.head == 2L)
    assert(pruned.nonEmpty && pruned.forall(_.partition.head == 2L))
  }

  test("every query is oracle-gated or explicitly oracle-exempt") {
    val queries = SparkEntry.queries.keySet
    val gated = SparkEntry.oracleSql.keySet
    val exempt = SparkEntry.oracleExempt.keySet
    assert((gated & exempt).isEmpty,
      s"both gated and exempt: ${gated & exempt}")
    assert((queries -- gated -- exempt).isEmpty,
      s"silent rows-only queries (add oracleSql or oracleExempt): " +
        s"${queries -- gated -- exempt}")
    assert((gated -- queries).isEmpty && (exempt -- queries).isEmpty,
      s"oracle entries without a query: ${(gated ++ exempt) -- queries}")
  }

  test("a run of JSON-mode field assignments is ONE json merge, no normalize") {
    import spark.implicits._
    import graft.functions.expressions.{JsonMerge, JsonNormalize}
    val src = ("root = this" +: (1 to 9).map(i => s"root.f$i = this.a + $i"))
      .mkString("\n")
    // a Range source: a local relation would constant-fold the mapping
    val docs = spark.range(3).select(to_json(struct(col("id").as("a"))).as("value"))
    val q = graft.blobl.Blobl.mapping(docs, src)
    val exprs = q.queryExecution.optimizedPlan
      .flatMap(_.expressions.flatMap(_.collect { case e => e }))
    val merges = exprs.count(_.isInstanceOf[JsonMerge])
    val normalizes = exprs.count(_.isInstanceOf[JsonNormalize])
    assert(merges == 1 && normalizes == 0,
      s"$merges merges, $normalizes normalizes in:\n${q.queryExecution.optimizedPlan}")
    assert(q.select("value").as[String].collect().toSeq == (0 to 2).map { a =>
      (("a" -> a) +: (1 to 9).map(i => s"f$i" -> (a + i)))
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    })
  }
}
