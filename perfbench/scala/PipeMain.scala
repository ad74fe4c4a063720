package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.blobl.Blobl
import graft.config.Pipeline
import graft.functions.expressions.GraftFunctions
import graft.sources.Broker

/** The pipeline JVM: sets up a session, runs one workload's untimed
  * warm-up passes, then timed passes adding up to `--seconds`, and writes
  * `result.json` (plus `spans.json` on traced runs) into `--dir`. Output
  * correctness is judged afterwards by checks.py from what this process
  * leaves in `--dir`.
  */
object PipeMain {
  val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val dir = a("dir")
    val trace = a("trace") == "1"
    val tr = new Tracer(trace)
    val out = mapper.createObjectNode()
    val env = out.putObject("env")
    env.put("loadavg_start", graft.tools.RefKernel.loadAvg())
    val cores = a("cores").toInt
    val spark = session(cores, dir, a.getOrElse("master", s"local[$cores]"))
    GraftFunctions.register(spark)
    val lis = if (trace) Some(new Listeners(tr)) else None
    lis.foreach { l =>
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
    }
    val slis = if (trace) Some(new StreamListener(tr)) else None
    slis.foreach(spark.streams.addListener)
    val launchMs = a("launch_ms").toLong
    val ctx = Ctx(spark, a, dir, a("seconds").toDouble, tr, lis, out,
      () => out.put("setup_s", (System.currentTimeMillis() - launchMs) / 1000.0))
    a("workload") match {
      case "bridge" => bridge(ctx)
      case "enrich" => enrich(ctx)
      case "stream" => stream(ctx)
      case "gates" => gates(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    slis.foreach { s =>
      val arr = out.putArray("batches")
      s.synchronized(s.batches.toList).foreach { b =>
        val o = arr.addObject()
        o.put("id", b.id); o.put("rows", b.rows); o.put("start_ms", b.startMs)
        b.durations.foreach { case (k, v) => o.put(k, v) }
      }
    }
    env.put("loadavg_end", graft.tools.RefKernel.loadAvg())
    env.put("heap_max_mb", Runtime.getRuntime.maxMemory / (1024 * 1024))
    env.put("nproc", Runtime.getRuntime.availableProcessors())
    val confs = env.putObject("spark_conf")
    spark.conf.getAll.toSeq.sortBy(_._1).foreach { case (k, v) => confs.put(k, v) }
    env.put("ref_kernel_mb_per_s", graft.tools.RefKernel.mbPerSec())
    out.put("rss_peak_mb", vmHwmMb())
    if (trace) mapper.writeValue(Paths.get(dir, "spans.json").toFile, tr.toJson(mapper))
    mapper.writeValue(Paths.get(dir, "result.json").toFile, out)
    spark.stop()
    // gate fixtures may leave non-daemon server threads behind
    System.exit(0)
  }

  final case class Ctx(spark: SparkSession, a: Map[String, String], dir: String,
                       seconds: Double, tr: Tracer, lis: Option[Listeners], out: ObjectNode,
                       setupDone: () => Unit)

  def session(cores: Int, dir: String, master: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16KB")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  def config(ctx: Ctx, name: String): String =
    new String(Files.readAllBytes(Paths.get(ctx.a("configs"), name + ".yaml")), "UTF-8")

  /** Run `pass` until the passes add up to `seconds` (at least
    * `minPasses` of them); returns each pass's wall seconds. */
  def timed(ctx: Ctx, minPasses: Int)(pass: Int => Unit): Seq[Double] =
    timed(ctx, minPasses, (_: Int) => ())(pass)

  /** As above, running `before(k)` untimed ahead of pass k. */
  def timed(ctx: Ctx, minPasses: Int, before: Int => Unit)(pass: Int => Unit): Seq[Double] = {
    val walls = ArrayBuffer.empty[Double]
    val s0 = startWindow(ctx)
    var k = 0
    while (walls.size < minPasses || walls.sum < ctx.seconds) {
      k += 1
      before(k)
      val s = System.nanoTime()
      ctx.tr.span("bench", "pass") { pass(k) }
      walls += (System.nanoTime() - s) / 1e9
    }
    endWindow(ctx, s0, walls.size, walls.sum)
    walls.toSeq
  }

  /** Listener counters at the start of a measured window (traced runs). */
  def startWindow(ctx: Ctx): Map[String, Double] =
    ctx.lis.map { l => l.settle(); l.snapshot() }.getOrElse(Map.empty)

  /** Per-unit listener counters of the window: its totals divided by
    * `units` (timed passes, or 1 for the stream window). */
  def endWindow(ctx: Ctx, s0: Map[String, Double], units: Int, wallS: Double): Unit =
    ctx.lis.foreach { l =>
      l.settle()
      val skew = l.skew
      val s1 = l.snapshot()
      val m = ctx.out.putObject("layers")
      s1.foreach { case (k, v) => m.put(k, (v - s0(k)) / units) }
      m.put("exec.task_skew", skew)
      m.put("exec.cpu_busy_frac",
        (s1("exec.task_cpu_ms") - s0("exec.task_cpu_ms")) / 1000.0 /
          (wallS * ctx.a("cores").toInt))
    }

  /** Untimed passes before the timed ones, so JIT compilation of the
    * generated code has settled; setup ends with the last of them. */
  val WarmPasses = 3

  def probe(ctx: Ctx): ObjectNode =
    Option(ctx.out.get("probe")).map(_.asInstanceOf[ObjectNode])
      .getOrElse(ctx.out.putObject("probe"))

  /** Run `f` on each element in its own thread; results in order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, xs.size))
    try {
      val fs = xs.map(x => java.util.concurrent.CompletableFuture.supplyAsync(() => f(x), pool))
      fs.map(_.join())
    } finally pool.shutdown()
  }

  def putSeq(o: ObjectNode, key: String, xs: Iterable[Double]): Unit = {
    val arr = o.putArray(key); xs.foreach(x => arr.add(x))
  }

  /** Blobl.mapping over a zero-row frame of the input schema, summed over
    * every mapping in the config: the Bloblang compile cost alone. */
  def probeBlobl(ctx: Ctx, yaml: String, input: DataFrame): Unit = {
    val spec = Pipeline.load(yaml)
    def mappings(n: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
      if (n.isObject) n.properties().asScala.toSeq.flatMap { e =>
        if (e.getKey == "mapping") Seq(e.getValue.asText) else mappings(e.getValue)
      } else if (n.isArray) n.elements().asScala.toSeq.flatMap(mappings)
      else Nil
    val empty = input.limit(0)
    val t0 = System.nanoTime()
    spec.processors.flatMap(mappings).foreach { m =>
      ctx.tr.span("blobl", "compile") { Blobl.mapping(empty, m).queryExecution.analyzed }
    }
    probe(ctx).put("blobl.compile_ms", (System.nanoTime() - t0) / 1e6)
  }

  /** Pipeline.build wall and the Spark jobs it launched. */
  def probeBuild(ctx: Ctx, yaml: String, env: Map[String, String]): Unit = {
    val jobs0 = ctx.spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val t0 = System.nanoTime()
    ctx.tr.span("config", "build") { Pipeline.build(ctx.spark, yaml, env) }
    val p = probe(ctx)
    p.put("config.build_ms", (System.nanoTime() - t0) / 1e6)
    p.put("config.build_jobs",
      ctx.spark.sparkContext.statusTracker.getJobIdsForGroup(null).length - jobs0)
  }

  // ── bridge: kafka wire → light mapping → kafka wire ─────────────────
  def bridge(ctx: Ctx): Unit = {
    val broker = ctx.a("broker")
    val t = Broker.transportFor(broker)
    val parts = t.partitionCount("events")
    val yaml = config(ctx, "bridge")
    def envFor(topic: String) = Map("BROKER" -> broker, "OUT_TOPIC" -> topic)
    (1 to WarmPasses).foreach { k =>
      t.createTopic(s"warm_$k", parts)
      Pipeline.run(ctx.spark, yaml, envFor(s"warm_$k"))
    }
    ctx.setupDone()
    if (ctx.tr.enabled) {
      probeBuild(ctx, yaml, envFor("probe"))
      probeBlobl(ctx, yaml, graft.sources.Sources.brokerRead(ctx.spark, broker, "events"))
    }
    // each pass's output is digested, then dropped, outside its timed
    // span; the last pass's output stays and is dumped for checks.py
    val digests = ctx.out.putArray("digests")
    def digest(topic: String, dump: Boolean): Unit = {
      val d = Digest.ofTopic(t, topic, if (dump) Some(Paths.get(ctx.dir, "delivered.jsonl")) else None)
      val o = digests.addObject()
      o.put("count", d.count); o.put("sum", d.sum.toString); o.put("bytes", d.bytes)
    }
    val wire = graft.sources.KafkaWire.clientFor(broker.stripPrefix("kafka://"))
    var last = ""
    val walls = timed(ctx, 3, { k =>
      if (last.nonEmpty) { digest(last, dump = false); wire.deleteTopics(Seq(last)) }
      last = s"out_$k"
      t.createTopic(last, parts)
    }) { _ =>
      ctx.tr.span("config", "run") { Pipeline.run(ctx.spark, yaml, envFor(last)) }
    }
    digest(last, dump = true)
    putSeq(ctx.out, "pass_s", walls)
    if (ctx.tr.enabled) {
      val p = probe(ctx)
      val inD = Digest.ofTopic(t, "events", None)
      // isolated read of the input topic through the transport
      val t0 = System.nanoTime()
      val readCount = ctx.tr.span("sources", "fetch") {
        parallel(0 until parts) { pn =>
          val tt = Broker.transportFor(broker)
          tt.fetch("events", pn, 0L, tt.endOffset("events", pn)).size.toLong
        }.sum
      }
      p.put("sources.fetch_ms", (System.nanoTime() - t0) / 1e6)
      p.put("sources.records_read", readCount)
      p.put("sources.bytes_read", inD.bytes)
      // isolated append of the delivered volume to a fresh topic
      val recs = (0 until parts).map { pn =>
        t.fetch(last, pn, 0L, t.endOffset(last, pn))
          .map(s => Broker.Record(s.key, s.value)).toVector
      }
      t.createTopic("append_probe", parts)
      val t1 = System.nanoTime()
      ctx.tr.span("sinks", "append") {
        parallel(recs.zipWithIndex) { case (rs, pn) =>
          val tt = Broker.transportFor(broker)
          rs.grouped(5000).foreach(ch => tt.append("append_probe", pn, ch))
        }
      }
      p.put("sinks.append_ms", (System.nanoTime() - t1) / 1e6)
      p.put("sinks.records_written", recs.map(_.size.toLong).sum)
      p.put("sinks.bytes_written", recs.flatten.map(_.value.length.toLong).sum)
    }
  }

  // ── enrich: JSON-lines files → processor chain → parquet ────────────
  def enrich(ctx: Ctx): Unit = {
    val yaml = config(ctx, "enrich")
    val inDir = ctx.a("in_dir")
    def envFor(out: String) = Map("IN_DIR" -> inDir, "OUT_DIR" -> out)
    (1 to WarmPasses).foreach(k => Pipeline.run(ctx.spark, yaml, envFor(s"${ctx.dir}/out/warm_$k")))
    ctx.setupDone()
    if (ctx.tr.enabled) {
      probeBuild(ctx, yaml, envFor(s"${ctx.dir}/out/probe"))
      probeBlobl(ctx, yaml, graft.sources.Sources.lines(ctx.spark, inDir))
    }
    val walls = timed(ctx, ctx.a.getOrElse("min_passes", "3").toInt) { k =>
      ctx.tr.span("config", "run") { Pipeline.run(ctx.spark, yaml, envFor(s"${ctx.dir}/out/pass_$k")) }
    }
    putSeq(ctx.out, "pass_s", walls)
  }

  // ── stream: open-loop kafka wire feed → runStream → parquet ─────────
  def stream(ctx: Ctx): Unit = {
    val yaml = config(ctx, "stream")
    val env = Map("BROKER" -> ctx.a("broker"), "OUT_DIR" -> s"${ctx.dir}/stream_out",
      "CHECKPOINT" -> s"${ctx.dir}/checkpoint")
    val warm = ctx.a("warm_msgs").toLong
    val q = Pipeline.runStream(ctx.spark, Pipeline.substEnv(yaml, env))
    // setup ends when the pre-produced warm-up messages are committed
    def committedRows(): Long = q.recentProgress.map(_.numInputRows).sum
    while (committedRows() < warm) {
      require(q.isActive, s"stream stopped: ${q.exception}")
      Thread.sleep(5)
    }
    ctx.setupDone()
    val s0 = startWindow(ctx)
    val w0 = System.nanoTime()
    Feeder.publish(ctx.a("sync"), "pipe_ready", "1")
    val done = Paths.get(ctx.a("sync"), "feeder_done")
    while (!Files.exists(done)) {
      require(q.isActive, s"stream stopped: ${q.exception}")
      Thread.sleep(20)
    }
    q.processAllAvailable()
    q.stop()
    endWindow(ctx, s0, 1, (System.nanoTime() - w0) / 1e9)
  }

  // ── gates: a fixed subset of SparkEntry.queries ─────────────────────
  val Gates = Seq("q1_pricing_summary", "q3_segment_revenue", "q6_window_rank",
    "q10_events_hourly", "q11_asof_join", "t_dedupe_exact", "t_minhash_lsh",
    "s_cosine_topk", "p_mapping", "p_compress", "p_msgpack", "t_dedup_clusters",
    "p_iceberg_commit", "p_rag_e2e", "p_try_catch", "p_wire_registry",
    "p_dynamodb_cdc", "p_spanner_cdc", "t_ngram_jaccard", "p_pipeline_e2e")

  def gates(ctx: Ctx): Unit = {
    val spark = ctx.spark
    graft.Tables.configure(spark)
    val sf = ctx.a("sf_dir")
    val queries = SparkEntry.queries
    val failed = ctx.out.putObject("gate_failures")
    def clean(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      graft.operators.Dedupe.releaseStaged()
    }
    // warm-up pass: every gate's result lands as parquet for the oracle
    Gates.foreach { g =>
      clean()
      try queries(g)(spark, sf).write.mode("overwrite").parquet(s"${ctx.dir}/gates_out/$g")
      catch { case e: Throwable => failed.put(s"warm/$g", String.valueOf(e.getMessage).take(300)) }
    }
    val oracle = mapper.createObjectNode()
    Gates.foreach(g => SparkEntry.oracleSql.get(g).foreach(oracle.put(g, _)))
    mapper.writeValue(Paths.get(ctx.dir, "oracle_sql.json").toFile, oracle)
    val exempt = ctx.out.putArray("oracle_exempt")
    SparkEntry.oracleExempt.keys.toSeq.sorted.foreach(exempt.add)
    ctx.setupDone()
    val perGate = Gates.map(_ -> ArrayBuffer.empty[Double]).toMap
    val b, pl, ex = ArrayBuffer.empty[Double]
    // three passes at least, as a pass takes about as long as a window:
    // the median then sets the slower first pass after warm-up aside
    val walls = timed(ctx, minPasses = 3) { k =>
      var bMs, pMs, eMs = 0.0
      Gates.foreach { g =>
        clean()
        val t0 = System.nanoTime()
        try {
          val df = ctx.tr.span("gates", s"build:$g") { queries(g)(spark, sf) }
          val t1 = System.nanoTime()
          if (ctx.tr.enabled) ctx.tr.span("gates", s"plan:$g") { df.queryExecution.executedPlan }
          val t2 = System.nanoTime()
          ctx.tr.span("gates", s"exec:$g") { df.write.format("noop").mode("overwrite").save() }
          val t3 = System.nanoTime()
          bMs += (t1 - t0) / 1e6; pMs += (t2 - t1) / 1e6; eMs += (t3 - t2) / 1e6
        } catch { case e: Throwable => failed.put(s"pass$k/$g", String.valueOf(e.getMessage).take(300)) }
        perGate(g) += (System.nanoTime() - t0) / 1e9
      }
      b += bMs; pl += pMs; ex += eMs
    }
    putSeq(ctx.out, "pass_s", walls)
    val pg = ctx.out.putObject("gate_s")
    Gates.foreach(g => putSeq(pg, g, perGate(g)))
    if (ctx.tr.enabled) {
      val p = probe(ctx)
      p.put("gates.build_ms", b.sum / b.size); p.put("gates.plan_ms", pl.sum / pl.size)
      p.put("gates.exec_ms", ex.sum / ex.size)
    }
  }
}

/** Order-independent digest of a set of messages: count plus the
  * wrapping sum of each message's 64-bit hash (first 8 bytes of its MD5,
  * little-endian) — the same function checks.py computes. */
object Digest {
  final case class D(count: Long, sum: BigInt, bytes: Long)
  private val Mod = BigInt(1) << 64

  def h64(v: Array[Byte]): Long = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(v)
    java.nio.ByteBuffer.wrap(md, 0, 8).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }

  def ofTopic(t: Broker.Transport, topic: String, dump: Option[java.nio.file.Path]): D = {
    var n = 0L; var s = 0L; var bytes = 0L
    val w = dump.map(p => Files.newBufferedWriter(p))
    try {
      (0 until t.partitionCount(topic)).foreach { p =>
        t.fetch(topic, p, 0L, t.endOffset(topic, p)).foreach { r =>
          n += 1; s += h64(r.value); bytes += r.value.length
          w.foreach { ww => ww.write(new String(r.value, "UTF-8")); ww.write('\n') }
        }
      }
    } finally w.foreach(_.close())
    D(n, (BigInt(s) + Mod) % Mod, bytes)
  }
}
