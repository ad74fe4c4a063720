package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Pins the r13 adaptive exact-dup-collapse staging of
  * [[Dedupe.ngramJaccardPairs]]:
  *   - a near-distinct corpus takes the DIRECT plan (no collapse
  *     overhead — the r12 driver-harness 17 s mode),
  *   - a duplicate-heavy corpus takes the STAGED plan and its output is
  *     byte-identical to the direct plan's,
  *   - the collapse key is case-SENSITIVE (token-consistent), so docs
  *     differing only in case are NOT merged (ADVICE r12 high finding).
  */
class DedupeStagingSpec extends SparkSpec {

  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame) =
    df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("staged output is byte-identical to direct on a dup-heavy corpus") {
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(200).collect()
    // replicate 3x: dup-ratio 3 forces the staged path
    val rows = (0 until 3).flatMap { rep =>
      base.map(r => (r.getLong(0) + rep * 1000000L, r.getString(1)))
    }
    val docs = rows.toDF("doc_id", "text")
    val staged = pairs(
      Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35))
    // reference: the direct (no-collapse) plan over the SAME dup-heavy
    // data — it computes every pair exactly, including J=1 dups
    val ref = pairs(Dedupe.ngramJaccardPairsDirect(
      docs.select(col("doc_id").as("id"), col("text").as("__txt")),
      "__txt", "id", 3, 0.35))
    assert(staged == ref,
      s"staged != direct: only-staged=${(staged -- ref).take(5)} " +
        s"only-direct=${(ref -- staged).take(5)}")
    assert(staged.nonEmpty)
  }

  test("near-distinct corpus takes the direct plan (no collapse joins)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val q = Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35)
    // the staged plan contains the literal 1.0 within-group projection
    // and a first(__txt) aggregate; the direct plan has neither
    val plan = q.queryExecution.optimizedPlan.toString
    assert(!plan.contains("__fp"),
      s"near-distinct corpus must skip the collapse staging:\n$plan")
  }

  test("minhash staged output is byte-identical to direct on dup-heavy corpus") {
    val base = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(150).collect()
    val rows = (0 until 4).flatMap { rep =>
      base.map(r => (r.getLong(0) + rep * 1000000L, r.getString(1)))
    }
    val docs = rows.toDF("doc_id", "text")
    val staged = pairs(
      Dedupe.minhashLshPairs(docs, "text", "doc_id", 3, 16, 4, 0.35))
    val direct = pairs(Dedupe.minhashLshPairsDirect(
      docs.select(col("doc_id").as("id"), col("text").as("__txt")),
      "__txt", "id", 3, 16, 4, 0.35))
    assert(staged == direct,
      s"only-staged=${(staged -- direct).take(5)} " +
        s"only-direct=${(direct -- staged).take(5)}")
    assert(staged.nonEmpty)
  }

  test("r19 co-occurrence count plan == brute-force Jaccard (independent reference)") {
    // independent reference: plain-Scala word-trigram STRING sets and
    // exact set intersection — no shingle hashing, no Spark plan shared
    // with the miner. Pins the r19 re-plan (inverted-index count
    // replacing the per-pair array verify) to the mathematical
    // definition it must compute.
    val docs0 = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).limit(300).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def shingles(t: String): Set[String] = {
      val toks = t.trim.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs0.map { case (id, t) => id -> shingles(t) }.toMap
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq
      if a < b && (sa.nonEmpty || sb.nonEmpty)
      inter = (sa & sb).size.toDouble
      uni = sa.size + sb.size - inter
      j = if (uni == 0) 0.0 else inter / uni
      if j >= 0.35
    } yield (a, b, BigDecimal(j).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = pairs(Dedupe.ngramJaccardPairsDirect(
      docs0.toSeq.toDF("doc_id", "text")
        .select(col("doc_id").as("id"), col("text").as("__txt")),
      "__txt", "id", 3, 0.35))
    assert(got == expected,
      s"only-miner=${(got -- expected).take(5)} " +
        s"only-brute=${(expected -- got).take(5)}")
    assert(got.nonEmpty)
  }

  test("r19 plan contract: no array column crosses any exchange in the ngram plan") {
    // the count plan's point: shingle ARRAYS never shuffle — only the
    // exploded 8-byte hashes and the pair aggregates do. Stricter than
    // PlanContractSpec's array<string> ban: NO array type at all.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      val q = Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35)
      val exchanges = q.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.child.schema.map(_.dataType.simpleString)
      }
      assert(exchanges.nonEmpty)
      exchanges.flatten.foreach { t =>
        assert(!t.startsWith("array"),
          s"ngram exchange carries an array column ($t)")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("resolveClusters: driver union-find == distributed propagation") {
    // chain 1-2-3, pair 10-11, singleton-pair 20-21, and a triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (30L, 31L), (30L, 32L), (31L, 32L)).toDF("id_a", "id_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val driver = labels(Dedupe.resolveClusters(pairs))
    val dist = labels(Dedupe.resolveClusters(pairs, driverMaxEdges = 0L))
    val expected = Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L),
      (11L, 10L), (20L, 20L), (21L, 20L), (30L, 30L), (31L, 30L),
      (32L, 30L))
    assert(driver == expected)
    assert(dist == expected)
  }

  test("resolveClusters contraction: long chain converges in O(log d) rounds") {
    // a 200-node path graph (diameter 199) with shuffled ids — the
    // adversarial case for label propagation; star contraction must
    // resolve it well inside the default maxIter=20 (2^20 diameter)
    val n = 200
    val perm = new scala.util.Random(7).shuffle((0 until n).toVector)
    val ids = perm.map(_.toLong * 13 + 5)
    val chain = (0 until n - 1).map(i => (ids(i), ids(i + 1)))
      .toDF("id_a", "id_b")
    val dist = Dedupe.resolveClusters(chain, driverMaxEdges = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val driver = Dedupe.resolveClusters(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rep = ids.min
    assert(dist == ids.map(id => (id, rep)).toSet)
    assert(dist == driver)
  }

  test("resolveClusters contraction: random multigraph parity with union-find") {
    // random graph WITH duplicate and reversed pairs (the public-API
    // shape the miners never emit) — both paths must agree exactly
    val rnd = new scala.util.Random(42)
    val pairs = (0 until 800).map { _ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)
    }.filter { case (a, b) => a != b }
    val withRev = pairs ++ pairs.take(100).map(_.swap)
    val df = withRev.toDF("id_a", "id_b")
    def labels(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dist = labels(Dedupe.resolveClusters(df, driverMaxEdges = 0L))
    val driver = labels(Dedupe.resolveClusters(df))
    assert(dist == driver)
    assert(dist.nonEmpty)
  }

  test("resolveClusters: self-pair-only nodes label themselves (both paths)") {
    val df = Seq((5L, 5L), (1L, 2L), (2L, 2L)).toDF("id_a", "id_b")
    def labels(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = Set((5L, 5L), (1L, 1L), (2L, 1L))
    assert(labels(Dedupe.resolveClusters(df)) == expected)
    assert(labels(Dedupe.resolveClusters(df, driverMaxEdges = 0L)) == expected)
  }

  test("case-differing docs are not merged by the collapse (ADVICE r12)") {
    // "alpha beta gamma delta" vs its uppercase: identical lowercased
    // fingerprint, but zero shared case-sensitive shingles. A lowercasing
    // collapse key would emit this pair with jaccard=1.0. Replicated so
    // the dup-ratio check triggers the staged path.
    val rows = (0 until 4).flatMap { rep =>
      Seq((rep * 100L + 1L, "alpha beta gamma delta epsilon"),
          (rep * 100L + 2L, "ALPHA BETA GAMMA DELTA EPSILON"))
    }
    val docs = rows.toDF("doc_id", "text")
    val got = pairs(
      Dedupe.ngramJaccardPairs(docs, "text", "doc_id", 3, 0.35))
    // expected: all-lower pairs with each other (J=1), all-upper pairs
    // with each other (J=1), never cross-case
    assert(got.nonEmpty)
    got.foreach { case (a, b, j) =>
      assert(a % 100 == b % 100,
        s"cross-case pair ($a,$b) J=$j emitted — collapse key lowercases")
      assert(j == 1.0)
    }
    val lowerIds = rows.filter(_._2.head.isLower).map(_._1)
    val expected = (for {
      x <- lowerIds; y <- lowerIds if x < y
    } yield (x, y, 1.0)).toSet
    assert(got.filter(_._1 % 100 == 1) == expected)
  }

  // r20: the direct miner's fan-out guard (VERDICT r19 #1) — a df
  // census dispatches between the count plan and the df-ordered
  // prefix-filter plan; both must be byte-identical and the census
  // must flip exactly on ubiquitous-shingle mass.

  private def setsAndIndex(docs: org.apache.spark.sql.DataFrame) = {
    graft.functions.expressions.GraftFunctions.register(spark)
    val sets = docs.select(col("doc_id").as("id"),
      call_function("graft_shingle_hashes",
        graft.functions.TextFunctions.tokens(col("text")), lit(3)).as("sh"))
    val ex = sets.withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .select(col("id"), col("sz"), explode(col("sh")).as("s"))
    (sets, ex)
  }

  test("r20 df census: clean corpus is not boilerplate-heavy; " +
      "ubiquitous-shingle corpus is") {
    val clean = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    assert(!Dedupe.boilerplateHeavy(setsAndIndex(clean)._2))
    // ratio = Σ C(df,2) / Σ df is bounded by (max df − 1)/2, so the
    // census can only flip when some shingle appears in > ~2×cap docs:
    // 1 400 docs sharing a 10-token boiler block (8 ubiquitous
    // trigrams at df 1400) against ~11 unique shingles per doc reads
    // ratio ≈ 294 > 256
    val boiler = (0 until 10).map(i => s"boil$i").mkString(" ")
    val docs = (0L until 1400L).map { i =>
      (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f u${i}g " +
        s"u${i}h u${i}i u${i}j u${i}k $boiler")
    }.toDF("doc_id", "text")
    assert(Dedupe.boilerplateHeavy(setsAndIndex(docs)._2))
  }

  test("r20 prefix-filter plan == brute-force Jaccard on a " +
      "boilerplate-heavy corpus (and == count plan)") {
    // near-dup structure UNDER boilerplate: doc 3k+1 and 3k+2 share
    // their unique block, doc 3k is distinct; every doc carries the
    // same boiler block, inflating shingle df without pushing distinct
    // pairs over the threshold
    val boiler = (0 until 10).map(i => s"boil$i").mkString(" ")
    val rows = (0L until 300L).map { i =>
      val g = i / 3
      val uniq =
        if (i % 3 == 0) (0 until 12).map(j => s"x${i}w$j").mkString(" ")
        else (0 until 12).map(j => s"g${g}w$j").mkString(" ") +
          (if (i % 3 == 2) s" tail$i" else "")
      (i, s"$uniq $boiler")
    }
    val docs = rows.toDF("doc_id", "text")
    val (sets, ex) = setsAndIndex(docs)
    def shingles(t: String): Set[String] = {
      val toks = t.trim.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      if (toks.length < 3) Set.empty
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val ref = rows.map { case (id, t) => id -> shingles(t) }.toMap
    val expected = (for {
      (a, sa) <- ref.toSeq; (b, sb) <- ref.toSeq
      if a < b && (sa.nonEmpty || sb.nonEmpty)
      inter = (sa & sb).size.toDouble
      uni = sa.size + sb.size - inter
      j = if (uni == 0) 0.0 else inter / uni
      if j >= 0.35
    } yield (a, b, BigDecimal(j).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val prefix = pairs(Dedupe.prefixFilteredPairs(sets, ex, 0.35))
    val count = pairs(Dedupe.countPairs(ex, 0.35))
    assert(prefix == expected,
      s"only-prefix=${(prefix -- expected).take(5)} " +
        s"only-brute=${(expected -- prefix).take(5)}")
    assert(count == expected)
    assert(prefix.nonEmpty)
  }

  test("degenerate corpora: empty, and every doc shorter than shingleN, " +
      "return no pairs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(pairs(Dedupe.ngramJaccardPairs(empty, "text", "doc_id", 3, 0.35))
      .isEmpty)
    val short = Seq((1L, "a b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    assert(pairs(Dedupe.ngramJaccardPairs(short, "text", "doc_id", 3, 0.35))
      .isEmpty)
    assert(!Dedupe.boilerplateHeavy(setsAndIndex(empty)._2))
  }
}
