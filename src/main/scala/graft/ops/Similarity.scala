package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.dotProduct

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *   - brute-force cosine top-k (the exact baseline; oracle-checkable
  *     because the dot product is a sequential left-fold of doubles —
  *     identical IEEE operation order in Spark and DuckDB),
  *   - random-hyperplane LSH bucketing (the scale path: signatures via
  *     deterministic planes, band equi-join for candidates, exact rerank
  *     on the candidate set only).
  */
object Similarity {

  /** Cast float embedding to double elementwise (exact) for stable math.
    * (Only needed at API boundaries; [[dot]] widens floats itself.)
    * A native array cast, not `transform(_.cast)` — Cast is
    * codegen-capable where the higher-order form is CodegenFallback. */
  def asDouble(emb: Column): Column = emb.cast("array<double>")

  /** Sequential-fold dot product: ((0 + x1*y1) + x2*y2) + ... — matches
    * DuckDB's list_reduce over the zipped product list bit-for-bit.
    * Implemented as a native codegen'd expression
    * ([[graft.functions.DotProduct]]); the equivalent zip_with/aggregate
    * formulation runs interpreted and is ~100x slower on 64-dim vectors. */
  def dot(a: Column, b: Column): Column = dotProduct(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  /** Exact cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest corpus vectors (excluding itself).
    * Output: (query_id, rank, vec_id, label, sim_x1e6).
    *
    * Scale notes: the small query side is broadcast so the corpus never
    * shuffles; per-query top-k is a window over the candidate set. At
    * 100 TB corpus scale the same plan holds (broadcast queries, one pass
    * over the corpus, partial top-k per partition via AQE). */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"),
      col("label"))
    val withNorm = e.withColumn("nrm", l2norm(col("v")))
    val queries = withNorm.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qn"))
    val scored = withNorm.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        floor(dot(col("qv"), col("v")) / (col("qn") * col("nrm")) * 1e6)
          .cast("long").as("sim_x1e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim_x1e6").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "label", "sim_x1e6")
  }

  /** Int8 symmetric quantization of the embedding column: per-vector
    * scale = max |x|, values floor(x/scale*127 + 0.5) in [-127, 127].
    * 4x smaller than float32 on the wire and in the page cache — the
    * storage/shuffle-side lever for similarity search at corpus scale
    * (quantized payloads ride the band/cell joins; exact rerank can
    * fetch full precision for finalists only). Floor-based round-half-up
    * everywhere — no round-half-even — so quantize→dequantize→score is
    * oracle-exact. */
  def quantizeInt8(embeddings: DataFrame): DataFrame =
    // fused codegen kernel: scale AND codes in one array walk (the
    // two-transform Column form was CodegenFallback on a corpus-sized
    // projection, and needed the scale materialized in a separate
    // select because Catalyst does no CSE inside lambda bodies)
    embeddings.select(col("vec_id"), col("label"),
        graft.functions.VectorFunctions.quantizeInt8(col("embedding"))
          .as("q"))
      .select(col("vec_id"), col("label"),
        col("q").getField("q_scale").as("q_scale"),
        col("q").getField("q_emb").as("q_emb"))

  /** Inverse of [[quantizeInt8]]: double embedding reconstructed as
    * q * scale / 127 (same evaluation order as the oracle SQL; one
    * codegen walk). */
  def dequantizeInt8(quantized: DataFrame): DataFrame =
    quantized.select(col("vec_id"), col("label"),
      graft.functions.VectorFunctions.dequantizeInt8(
        col("q_emb"), col("q_scale")).as("embedding"))

  /** Threshold where LSH candidate generation starts beating exact
    * blocked all-pairs. Below it, bands narrow enough to keep recall
    * admit nearly every pair (measured on the test embeddings at
    * minSim=0.4: 2-bit bands emit 1,998,364 of 1,999,000 possible
    * pairs — 99.97%) while ADDING a band-explode + 16M-row self-join +
    * 2M-row distinct on top of the unavoidable rerank; the blocked
    * exact kernel does the same Theta(n^2 d) math with one shuffle and
    * tight primitive loops. Above it, per-band collision probability
    * p^bits falls fast enough (p >= ~0.75 per bit at cos 0.7) that
    * wide bands prune candidates by orders of magnitude
    * (CandidatePruningSpec measures >10x on real data). */
  val LshCrossoverSim = 0.7

  /** Embedding-space decontamination — the semantic complement of the
    * n-gram contamination report (q51): for every corpus vector, the
    * MAX cosine against a (small) held-out benchmark set, plus how
    * many benchmark vectors clear the threshold, and keep = below it.
    * This is the "drop training docs that are near-duplicates of eval
    * items" stage run before every serious pretraining mix — n-gram
    * contamination catches verbatim leakage, this catches paraphrase.
    *
    * `tauX1e6` is the threshold on the FLOOR-SCALED similarity, so
    * every checked column is integer-derived: floor is monotone, so
    * max(floor(s·10⁶)) = floor(max s·10⁶), and floor(s·10⁶) ≥ τ ⇔
    * s·10⁶ ≥ τ for integer τ — the flag and the count replay exactly.
    *
    * Plan: the benchmark side BROADCASTS (it is eval-set-sized — tiny
    * by definition) and the corpus streams through once; the per-key
    * aggregate collapses map-side (all of a row's bench sims are
    * produced in its own partition), so the one exchange carries one
    * slim row per corpus vector. At 100 TB the same plan holds: no
    * corpus shuffle of vectors, no pair materialization. Caller keeps
    * corpus and bench DISJOINT (a bench row scored against itself is
    * sim 1.0 and flags trivially). */
  def embeddingContamination(corpus: DataFrame, bench: DataFrame,
                             tauX1e6: Long): DataFrame = {
    require(tauX1e6 > 0 && tauX1e6 <= 1000000L,
      s"tauX1e6=$tauX1e6 outside (0, 1e6]")
    // zero-norm convention shared with [[nearDupPairs]]: no defined
    // cosine → participates in no comparison (keeps NaN off both
    // engines' thresholds)
    val c = corpus.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0.0)
    val b = bench.select(col("vec_id").as("bench_id"),
        col("embedding").as("bv"))
      .withColumn("bn", l2norm(col("bv")))
      .filter(col("bn") > 0.0)
    c.crossJoin(broadcast(b))
      .select(col("vec_id"),
        floor(dot(col("bv"), col("v")) / (col("bn") * col("nrm")) * 1e6)
          .cast("long").as("sim_x1e6"))
      .groupBy(col("vec_id"))
      .agg(max(col("sim_x1e6")).as("max_sim_x1e6"),
        sum(when(col("sim_x1e6") >= tauX1e6, 1L).otherwise(0L))
          .as("n_over"))
      .withColumn("keep", col("max_sim_x1e6") < tauX1e6)
  }

  /** Session conf: force [[contaminationKeep]] onto the exact kernel
    * regardless of τ — the remediation hatch for a dataset whose ≥τ
    * pairs straddle probe boundaries (a recall miss is a silent false
    * KEEP on un-gated data; this conf routes around it without a code
    * change). */
  val DecontamExactKey = "graft.decontam.exact"

  /** Session conf: probe count for [[contaminationKeep]]'s cell path
    * (default 4) — the second remediation lever: raising nProbe
    * widens each corpus vector's candidate set without leaving the
    * pruned plan shape. */
  val DecontamNProbeKey = "graft.decontam.nProbe"

  /** Whether [[contaminationKeep]] takes the cell-pruned path at this
    * threshold: τ at or above [[LshCrossoverSim]] (the near-dup
    * regime, where near-identical vectors rank centroids
    * near-identically and CellContamSpec pins drop-set equality), and
    * [[DecontamExactKey]] not set. Exposed so the dispatch decision
    * is testable without reading plan strings. */
  def contaminationUseCells(spark: org.apache.spark.sql.SparkSession,
                            tauX1e6: Long): Boolean =
    tauX1e6 >= math.round(LshCrossoverSim * 1e6) &&
      !spark.conf.getOption(DecontamExactKey).exists(_.toBoolean)

  /** [[DecontamNProbeKey]]'s resolved value (default 4) — the probe
    * count [[contaminationKeep]] hands the cell path. */
  def decontamNProbe(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption(DecontamNProbeKey).map(_.toInt).getOrElse(4)

  /** τ-dispatched decontamination keep law — [[nearDupPairs]]'s
    * LshCrossoverSim posture applied to contamination (round-16
    * verdict): ONE entry point whose recall is never regime-wrong.
    * At or above the crossover the cell-pruned candidate generator
    * runs ([[embeddingContaminationCells]] — recall pinned by
    * CellContamSpec in the near-dup regime); below it cluster pruning
    * is inherently one-sided (measured 6/7 drops at τ=0.4), so the
    * EXACT kernel runs instead of silently losing drops.
    * [[DecontamExactKey]] forces the exact kernel at any τ;
    * [[DecontamNProbeKey]] tunes the cell path. Output is the shared
    * (vec_id, keep) contract — callers needing the max-sim statistic
    * use [[embeddingContamination]] directly (q125's registered
    * report shape). */
  def contaminationKeep(corpus: DataFrame, bench: DataFrame,
                        tauX1e6: Long): DataFrame = {
    val spark = corpus.sparkSession
    if (contaminationUseCells(spark, tauX1e6))
      embeddingContaminationCells(corpus, bench, tauX1e6,
        decontamNProbe(spark))
    else
      embeddingContamination(corpus, bench, tauX1e6)
        .select(col("vec_id"), col("keep"))
  }

  /** Cell-pruned embedding decontamination — the SemDeDup-shaped
    * candidate generator (Abbas et al. 2023's cluster-then-compare)
    * wired in front of [[embeddingContamination]]'s exact verify,
    * for corpora where |corpus|·|bench| exact cosine is the
    * pipeline's superlinear term (the q147 capstone's measured x100
    * wall).
    *
    * Shape: k = round(√(nProbe·|bench|)) coarse centroids from the
    * BENCH side (the [[IvfIndex.sampleCentroidsK]] cut — k lowest-id
    * nonzero vectors, the bounded deterministic faiss-style training
    * slice — inlined over the cached bench frame so count, centroid
    * collect and cell assignment share one bench materialization;
    * bench is eval-set-sized in production, so the driver collect is
    * constant in corpus size, and k balances the per-corpus-row cost
    * k + nProbe·|bench|/k).
    * Each bench vector lands in its argmin cell; each corpus vector
    * probes its nProbe nearest cells (the fused
    * [[graft.functions.VectorFunctions.nearestCells]] kernel) and
    * meets ONLY those cells' bench members in a broadcast-hash join
    * on cell — candidates are then scored with the IDENTICAL
    * floor-scaled exact cosine as the exact kernel, so false
    * candidates cost flops, never rows. The corpus is never
    * shuffled; the only exchange is the same per-vec_id partial-agg
    * the exact kernel pays, over ~nProbe/k of the pairs.
    *
    * Recall posture — the honest caveat: a contaminated pair is
    * found iff the bench twin's cell is among the corpus vector's
    * nProbe probes. In the decontamination regime (τ near 1,
    * near-identical vectors) the two vectors rank centroids
    * near-identically, so misses need a ≥τ pair straddling a probe
    * boundary — a PER-DATASET property, not a theorem (the q34 pin
    * precedent): CellContamSpec pins drop-set EQUALITY with the
    * exact kernel on the testdata slices AND on a
    * planted-contamination corpus, and q147's unchanged exact-law
    * oracle re-proves it at every gated sf; a future dataset that
    * breaks it fails the gate loudly — the signal to raise nProbe,
    * not a silent wrong answer. BELOW the near-dup regime the
    * guarantee is one-sided only — exact verification makes a FALSE
    * drop impossible, but probe misses are inherent (measured: 6 of
    * 7 exact drops caught at τ=0.4 on sf0.01) — use
    * [[embeddingContamination]]'s exact cross join there.
    * [[contaminationKeep]] ENFORCES that posture (the τ-dispatch of
    * [[nearDupPairs]]'s LshCrossoverSim): callers should enter there
    * unless they have pinned the regime themselves.
    *
    * Output: (vec_id, keep) for every nonzero-norm corpus vector —
    * the keep law of the exact kernel (no candidate at or over τ);
    * the global max_sim statistic is deliberately absent (only
    * candidate sims are computed). Zero-norm convention unchanged. */
  def embeddingContaminationCells(corpus: DataFrame, bench: DataFrame,
                                  tauX1e6: Long,
                                  nProbe: Int = 4): DataFrame = {
    require(tauX1e6 > 0 && tauX1e6 <= 1000000L,
      s"tauX1e6=$tauX1e6 outside (0, 1e6]")
    require(nProbe >= 1, s"nProbe must be positive, got $nProbe")
    val c = corpus.select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0.0)
    // bench is cached across the TWO eager build-time actions (count,
    // centroid collect): without it each eager probe rescans the
    // embeddings table bench derives from — the round-16 self-review
    // priced the uncached form at two full bench-side scans per call.
    // The cache is released when the output PLAN is built, so the
    // bCell broadcast at execution time recomputes bench from source
    // (one more pruned scan) — the deliberate trade: keeping the
    // cache alive through a caller-deferred execution would leak
    // bench-sized blocks per call (no release point exists once this
    // function returns), and caching the corpus-sized output to
    // cover it inverts the size argument. Bench is eval-set-sized by
    // contract, so the cache is bounded while it lives.
    val b = bench.select(col("vec_id").as("bench_id"),
        col("embedding").as("bv"))
      .withColumn("bn", l2norm(col("bv")))
      .filter(col("bn") > 0.0)
      .cache()
    val nB = b.count()
    if (nB == 0L) {
      // no bench -> nothing to contaminate against (the exact
      // kernel's empty cross join reaches the same all-keep result)
      b.unpersist(blocking = false)
      return c.select(col("vec_id"), lit(true).as("keep"))
    }
    val k = math.max(1L,
      math.round(math.sqrt(nProbe.toDouble * nB))).toInt
    // the bounded deterministic sampleCentroidsK cut, read off the
    // already-cached bench frame (k lowest-id nonzero vectors)
    val cents = b.orderBy("bench_id").limit(k)
      .select("bench_id", "bv").collect().zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Float](1).map(_.toDouble)) }
    val nP = math.min(nProbe, cents.length)
    val bCell = b.withColumn("cell", explode(
      graft.functions.VectorFunctions.nearestCells(col("bv"), cents, 1)))
    val cCell = c.withColumn("cell", explode(
      graft.functions.VectorFunctions.nearestCells(col("v"), cents, nP)))
    // left join: a corpus vector probing only bench-empty cells must
    // still emit its keep row; a bench member sits in exactly one
    // cell and probes are distinct, so no candidate pair duplicates
    val out = cCell.join(broadcast(bCell), Seq("cell"), "left")
      .select(col("vec_id"),
        floor(dot(col("bv"), col("v")) / (col("bn") * col("nrm")) * 1e6)
          .cast("long").as("sim_x1e6"))
      .groupBy(col("vec_id"))
      .agg(coalesce(max(col("sim_x1e6")), lit(Long.MinValue))
        .as("max_cand_sim_x1e6"))
      .select(col("vec_id"),
        (col("max_cand_sim_x1e6") < tauX1e6).as("keep"))
    b.unpersist(blocking = false)
    out
  }

  /** All pairs with cosine similarity >= minSim (near-dup detection).
    * Dispatches on the threshold: below [[LshCrossoverSim]] the exact
    * block-tiled kernel ([[allPairsBlocked]]) — LSH cannot prune there,
    * it only adds candidate-generation overhead; at or above it,
    * hyperplane-LSH candidate generation + exact rerank
    * ([[nearDupPairsLsh]]). Both return the identical exact pair set
    * shape (vec_a < vec_b, sim_x1e6).
    *
    * Knob scoping: `nPlanes`/`bitsPerBand`/`dim`/`seed` tune the LSH
    * path and apply ONLY at or above the crossover; `nBlocks` tunes the
    * blocked kernel and applies ONLY below it (0 = auto-size from plan
    * stats, see [[deriveNBlocks]]). Parameters for the branch not taken
    * are ignored by construction — the two algorithms share nothing but
    * the result contract.
    *
    * Zero-norm convention (both paths): a vector with L2 norm 0 has no
    * defined cosine to anything, so it participates in NO pair — it is
    * dropped before any comparison rather than letting 0/0 = NaN reach
    * the threshold (Scala's `>=` rejects NaN, Spark SQL's `>=` sorts
    * NaN above every double; filtering first keeps the branches and the
    * DuckDB oracle identical). */
  def nearDupPairs(embeddings: DataFrame, minSim: Double,
                   nPlanes: Int = 64, bitsPerBand: Int = 2,
                   dim: Int = 64, seed: Long = 42L,
                   nBlocks: Int = 0): DataFrame =
    if (minSim < LshCrossoverSim) allPairsBlocked(embeddings, minSim, nBlocks)
    else nearDupPairsLsh(embeddings, minSim, nPlanes, bitsPerBand, dim, seed)

  /** The SemDeDup keep policy, paper-faithful (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): within each near-duplicate cluster keep the
    * member CLOSEST TO THE CLUSTER CENTROID — not the lowest-id member
    * the generic `keep` flag marks — because the centroid-nearest
    * point is the cluster's least-noisy representative.
    *
    * Determinism at any parallelism (the q82 trick): a float centroid
    * mean is a sum whose value depends on partial-aggregation order,
    * so the mean is computed from FIXED-POINT member sums —
    * floor(x·2^scaleBits + 0.5) summed as longs (order-independent),
    * then ONE double division s/(n·2^scaleBits) per dimension (an
    * exact-IEEE op both engines perform identically). Distances use
    * the family's sequential-fold form
    * ⟨v,v⟩ − 2⟨v,c⟩ + ⟨c,c⟩, floor-scaled before the (d, vec_id)
    * tie-broken rank, so the whole policy replays in SQL.
    *
    * Plan shape: pairs → connected components (the shared RDD
    * min-label kernel) → per-(cluster, dim) integer sums via
    * posexplode with map-side combine (what moves is cluster-count·d,
    * not corpus·d) → centroid arrays → ONE members⋈centroids join
    * keyed on cluster_root → per-cluster rank. Singletons (and
    * zero-norm vectors, which pair with nothing) are their own
    * centroid at distance 0 and keep themselves.
    *
    * Output: (vec_id, cluster_root, d_x1e6, keep). */
  def semDedupKeep(embeddings: DataFrame, minSim: Double,
                   scaleBits: Int = 20): DataFrame = {
    val scale = (1L << scaleBits).toDouble
    // above the crossover use the AUTO-sized LSH path: the default
    // fixed 2-bit bands admit nearly every pair once the corpus grows
    // (measured 114 s at 20k vectors / timeout at 60k against ~30 s
    // with the sizing law, PLANS.md "q96 SemDeDup at the production
    // threshold" — the exact failure mode
    // lshBandConfig exists to prevent). This buys the q69/q76
    // production trade: candidates are exactly verified, and the law
    // sizes bands so near-clones (cos >= 0.99) are recovered with
    // miss <= 1e-4, while borderline organic pairs near the threshold
    // carry the documented higher miss (same section: 9 of ~20k
    // clusters differ at x10 vs the exhaustive 2-bit bands). Below
    // the crossover (q96's registered 0.4) the blocked kernel is
    // exhaustive and the oracle replay exact.
    val rawPairs =
      if (minSim >= LshCrossoverSim) nearDupPairsLshAuto(embeddings, minSim)
      else nearDupPairs(embeddings, minSim)
    val pairs = rawPairs.select(col("vec_a").as("a"), col("vec_b").as("b"))
    val labels = Dedup.componentLabels(
        embeddings.select(col("vec_id").as("id")), pairs)
      .select(col("id").as("vec_id"), col("cluster_root"))
    val members = embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(labels, "vec_id")
    val sums = members
      .select(col("cluster_root"), posexplode(col("v")))
      .select(col("cluster_root"), col("pos"),
        floor(col("col") * lit(scale) + lit(0.5)).cast("long").as("q"))
      .groupBy("cluster_root", "pos")
      .agg(sum(col("q")).as("s_fp"), count(lit(1)).as("nm"))
    val cents = sums.groupBy("cluster_root")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("s_fp"),
          col("nm")))),
        x => x.getField("s_fp").cast("double") /
          (x.getField("nm").cast("double") * lit(scale))).as("c"))
    val scored = members.join(cents, "cluster_root")
      .select(col("vec_id"), col("cluster_root"),
        floor((dot(col("v"), col("v"))
          - lit(2.0) * dot(col("v"), col("c"))
          + dot(col("c"), col("c"))) * 1e6)
          .cast("long").as("d_x1e6"))
    val w = Window.partitionBy("cluster_root")
      .orderBy(col("d_x1e6"), col("vec_id"))
    scored.withColumn("keep", row_number().over(w) === 1)
      .select("vec_id", "cluster_root", "d_x1e6", "keep")
  }

  /** Per-block byte budget for [[deriveNBlocks]]: two blocks of packed
    * double vectors at this size (~0.5 GiB) fit comfortably inside a
    * standard 4–8 GiB executor with headroom for the emitted pairs. */
  val DefaultBlockBytes: Long = 256L << 20

  /** Floor for the derived block count — below this the tiles are too
    * few to occupy even a small cluster, and local runs keep the
    * measured round-4 plan shape. */
  val MinBlocks = 16

  /** Cap for the derived block count. 65535 keeps
    * nTiles = nB(nB+1)/2 <= ~2.1e9 inside Int for HashPartitioner
    * (and inside any practical partition count). 65535 blocks x
    * 256 MiB covers a 16 TiB input at the default budget; past that
    * the cap binds and the EFFECTIVE block size grows
    * (total/65535 — e.g. ~1.5 GiB blocks at 100 TB), so executors
    * must be sized for two such blocks per tile task. That is not the
    * kernel's real ceiling, though: exact all-pairs is Θ(n²d) compute,
    * and at 100 TB the tile count (~2.1e9) and FLOPs are the binding
    * constraint long before memory — the documented role of this
    * kernel is the exactness fallback BELOW the LSH crossover
    * ([[nearDupPairsLsh]] is the corpus-scale path). */
  val MaxBlocks = 65535

  /** Catalyst's sizeInBytes for plans with no stats (createDataFrame,
    * JDBC, some views) is a defaultSizeInBytes sentinel at or near
    * Long.MaxValue. Anything above this threshold (~1/1024 of
    * Long.MaxValue, still ~8 PiB — no real estimate gets here) is
    * treated as "unknown", not as a real size. */
  val UnknownSizeThreshold: Long = Long.MaxValue >> 10

  /** Sizing rule for [[allPairsBlocked]], applied (the scaladoc used to
    * only state it): enough blocks that one block of vectors fits the
    * per-block byte budget, so any two blocks co-resident in a tile task
    * fit an executor. Replication factor is the returned count and
    * parallelism is nB(nB+1)/2 tiles, so the budget — not a fixed 16 —
    * is what survives a 100x corpus scale-up untouched.
    *
    * Stat-less plans report a Long.MaxValue-ish sentinel, not a size:
    * those fall back to the floor instead of saturating the block count
    * (pre-fix this produced nBlocks = Int.MaxValue and a negative
    * HashPartitioner tile count). The result is clamped to
    * [[MaxBlocks]] so the tile count always fits an Int. */
  def deriveNBlocks(totalBytes: Long,
                    targetBlockBytes: Long = DefaultBlockBytes,
                    floor: Int = MinBlocks): Int = {
    require(targetBlockBytes > 0 && floor > 0 && floor <= MaxBlocks)
    if (totalBytes >= UnknownSizeThreshold) floor
    else {
      val needed = math.ceil(totalBytes.toDouble / targetBlockBytes)
      math.min(MaxBlocks.toDouble, math.max(floor.toDouble, needed)).toInt
    }
  }

  /** Dense triangular index for the tile of block pair (bi <= bj):
    * bijects the nB(nB+1)/2 live tiles onto [0, nTiles), so
    * HashPartitioner(nTiles) gives every tile exactly one partition.
    * (The previous sparse key bi*nB+bj spanned [0, nB^2) and collided
    * modulo nTiles — some partitions carried two tiles while others
    * stayed empty, up to 2x skew in the kernel's hottest stage.) */
  private[ops] def tileIndex(bi: Int, bj: Int, nB: Int): Int =
    bi * nB - bi * (bi - 1) / 2 + (bj - bi)

  /** Inverse of [[tileIndex]]: recover (bi, bj) from the dense id. */
  private[ops] def tileBlocks(t: Int, nB: Int): (Int, Int) = {
    var bi = 0
    var off = 0
    while (off + (nB - bi) <= t) { off += nB - bi; bi += 1 }
    (bi, bi + (t - off))
  }

  /** Exact all-pairs cosine >= minSim via block-tiled self-comparison —
    * the scalable EXACT path for thresholds too low for LSH to prune.
    *
    * Shape: rows hash into `nBlocks` blocks by id; each unordered block
    * pair (bi <= bj) is a tile, and every row is replicated to the
    * nBlocks tiles it touches — ONE shuffle of n*nBlocks slim rows
    * (id, vector, norm), no join node anywhere (so no CartesianProduct
    * / BNLJ can appear in the plan). Each tile then runs a dense
    * dot-product loop over primitive double arrays inside a single
    * task: every pair is computed in exactly one tile (the tile of its
    * two block ids), survivors only are emitted. This is the
    * block-matrix-multiply design: compute is Theta(n^2 d) — provably
    * required for an exact answer at a threshold where the similarity
    * graph is dense — and the knobs are shuffle volume (n*nBlocks rows)
    * and arithmetic intensity (tight loops, no per-pair row
    * materialization).
    *
    * 100 TB sizing: nBlocks defaults to 0 = derived via [[deriveNBlocks]]
    * from the input plan's size estimate so two blocks of vectors fit an
    * executor (block bytes ~ n/nBlocks * dim * 8); replication factor
    * is nBlocks, parallelism is nBlocks*(nBlocks+1)/2 tiles. Sequential
    * ids spread uniformly via modulo; pre-hash ids that cluster.
    *
    * Zero-norm vectors are dropped before replication (no defined
    * cosine — see [[nearDupPairs]] for the shared convention).
    *
    * Determinism: dot products are the same sequential left-fold over
    * double-widened elements as [[dot]]/the DuckDB oracle, so
    * floor-scaled sims hash-match exactly. */
  def allPairsBlocked(embeddings: DataFrame, minSim: Double,
                      nBlocks: Int = 0): DataFrame = {
    val session = embeddings.sparkSession
    import session.implicits._
    val rows = embeddings.select(col("vec_id").cast("long"),
      asDouble(col("embedding")).as("v"))
    val nB = if (nBlocks > 0) nBlocks
      else deriveNBlocks(rows.queryExecution.optimizedPlan.stats
        .sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
    val replicated = rows.rdd.flatMap { r =>
      val id = r.getLong(0)
      val v = r.getSeq[Double](1).toArray
      var nrm2 = 0.0
      var i = 0
      while (i < v.length) { nrm2 += v(i) * v(i); i += 1 }
      val nrm = math.sqrt(nrm2)
      if (nrm == 0.0) Iterator.empty
      else {
        val k = java.lang.Math.floorMod(id, nB.toLong).toInt
        // left member of tiles (k, j>=k), right member of tiles
        // (i<k, k); the diagonal tile (k, k) gets the row once,
        // flagged left
        val asLeft = (k until nB).iterator.map(j =>
          (tileIndex(k, j, nB), (id, v, nrm, true)))
        val asRight = (0 until k).iterator.map(i2 =>
          (tileIndex(i2, k, nB), (id, v, nrm, false)))
        asLeft ++ asRight
      }
    }
    val nTilesL = nB.toLong * (nB + 1) / 2
    require(nTilesL > 0 && nTilesL <= Int.MaxValue,
      s"tile count $nTilesL for nBlocks=$nB exceeds Int range — " +
        s"cap nBlocks at $MaxBlocks")
    val nTiles = nTilesL.toInt
    val emitted = replicated
      .groupByKey(new org.apache.spark.HashPartitioner(nTiles))
      .flatMap { case (tileId, members) =>
        val (bi, bj) = tileBlocks(tileId, nB)
        val out = Array.newBuilder[(Long, Long, Long)]
        def score(a: (Long, Array[Double], Double, Boolean),
                  b: (Long, Array[Double], Double, Boolean)): Unit = {
          val (idA, vA, nA, _) = a
          val (idB, vB, nB2, _) = b
          // sequential left-fold, same operation order as graft dot/oracle
          var d = 0.0
          var i = 0
          while (i < vA.length) { d += vA(i) * vB(i); i += 1 }
          val sim = d / (nA * nB2)
          if (sim >= minSim) {
            val (lo, hi) = if (idA < idB) (idA, idB) else (idB, idA)
            out += ((lo, hi, math.floor(sim * 1e6).toLong))
          }
        }
        if (bi == bj) {
          val xs = members.toArray
          var i = 0
          while (i < xs.length) {
            var j = i + 1
            while (j < xs.length) { score(xs(i), xs(j)); j += 1 }
            i += 1
          }
        } else {
          val (ls, rs) = members.partition(_._4)
          val lefts = ls.toArray
          val rights = rs.toArray
          var i = 0
          while (i < lefts.length) {
            var j = 0
            while (j < rights.length) { score(lefts(i), rights(j)); j += 1 }
            i += 1
          }
        }
        out.result().iterator
      }
    emitted.toDF("vec_a", "vec_b", "sim_x1e6")
  }

  /** Deterministic high-similarity plants: for each vec_id < nPlanted,
    * append a clone at vec_id + idOffset whose element at index
    * (vec_id mod dim) is perturbed by +0.1 (double add, rounded back
    * to float32). On unit-norm embeddings the clone sits at cosine
    * ~0.995 to its source — above any production near-dup threshold —
    * while clones of DISTINCT sources stay as far apart as the sources
    * themselves.
    *
    * Purpose: the test corpus's organic near-dups top out near cos 0.6,
    * below [[LshCrossoverSim]], so the LSH pair path had nothing to
    * find at a threshold where its bands actually prune; deriving
    * plants INSIDE the query (the ScaleGen bijection pattern — every
    * step exact-replayable: float→double widening, one double add, an
    * IEEE float round-trip) gives [[nearDupPairsLsh]] a deterministic
    * ≥0.7 workload on any dataset, with no per-dataset pin. */
  def plantNearDups(embeddings: DataFrame, nPlanted: Int,
                    dim: Int = 64): DataFrame = {
    require(nPlanted >= 1, s"need nPlanted >= 1, got $nPlanted")
    val base = embeddings.select(col("vec_id"), col("embedding"), col("label"))
    // Clone ids are offset by max(vec_id)+1, DERIVED from the data (a
    // column-pruned pass + a 1-row broadcast): off > every organic id,
    // so clone ids are disjoint from the corpus at ANY scale — a fixed
    // literal offset collided with organic ids once the corpus
    // outgrew it (the x30 ScaleGen caveat this replaces).
    val off = base.agg((max(col("vec_id")) + 1L).as("off"))
    val planted = base.filter(col("vec_id") < nPlanted)
      .crossJoin(broadcast(off))
      .withColumn("p_idx", pmod(col("vec_id"), lit(dim.toLong)).cast("int"))
      .select((col("vec_id") + col("off")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === col("p_idx"),
            (x.cast("double") + lit(0.1d)).cast("float")).otherwise(x))
          .as("embedding"),
        col("label"))
    base.unionByName(planted)
  }

  /** LSH near-dup pairs: hyperplane-LSH candidate generation + exact
    * rerank — no all-pairs theta join anywhere in the plan. The
    * high-threshold path of [[nearDupPairs]].
    *
    * Shape: signatures (one pass), band explode, band-bucket EQUI
    * self-join on ids only (payloads never ride through the candidate
    * join), distinct, then payload joins by id and the exact cosine
    * filter. Every join is a hash/sort-merge equi-join.
    *
    * Recall argument (documented per-config): with nPlanes=64 split into
    * 32 bands of 2 bits, a pair at cos >= 0.4 has per-bit agreement
    * p = 1 - acos(0.4)/pi ~ 0.631, so P(miss) = (1 - p^2)^32 ~ 1e-7 per
    * pair — and the planes are seed-fixed, so the outcome is
    * deterministic. Precision is exact (candidates are reranked). At
    * production near-dup thresholds (>= 0.9, p >= 0.85) wide bands
    * (e.g. 8 bands of 8 bits) prune candidates by orders of magnitude;
    * pass bitsPerBand accordingly.
    *
    * SIZING LAW (the 100-TB knob): the band-bucket space has
    * nBands * 2^bitsPerBand cells, so RANDOM collisions contribute
    * ~n^2 * nBands / 2^bitsPerBand candidate pairs regardless of how
    * well true pairs concentrate — with bitsPerBand fixed, every
    * config saturates quadratically once n outgrows the bucket space
    * (measured: 64 planes / 8-bit bands is sublinear at x10 but walls
    * at x30, where the 8 * 256-cell space holds ~235 vectors/cell).
    * Keeping random mass linear in n needs bitsPerBand ~ log2(n),
    * and holding per-pair recall at the same similarity then needs
    * more bands (P(miss) = (1 - p^bits)^nBands), i.e. nPlanes grows
    * with corpus size — which is why signatures are multi-word
    * ([[lshSignatureWords]]): the plane budget is NOT capped at 64.
    * At 100-TB corpus sizes (~1e9 vectors) the near-exact-dup regime
    * (sim >= 0.99, p >= 0.97) sizes to ~30-bit bands * ~16 bands
    * (~480 planes, miss < 1e-6); at moderate similarity the exponent
    * blows up — that regime belongs to the blocked kernel / IVF
    * clustering below [[LshCrossoverSim]], not to banding.
    *
    * Zero-norm vectors are filtered before banding (no defined cosine —
    * see [[nearDupPairs]]); without the filter, SQL's NaN-high `>=`
    * would KEEP 0/0 = NaN pairs here while the blocked kernel's Scala
    * `>=` drops them, breaking the identical-pair-set contract. */
  def nearDupPairsLsh(embeddings: DataFrame, minSim: Double,
                      nPlanes: Int = 64, bitsPerBand: Int = 2,
                      dim: Int = 64, seed: Long = 42L): DataFrame = {
    // one small row per vector (id, sig words, norm — a few dozen B);
    // cached because bands + both payload sides re-derive from it
    val sigs = lshSignatureWords(embeddings, hyperplanes(nPlanes, dim, seed))
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0d).cache()
    val cand = bandCandidatesWords(sigs, nPlanes, bitsPerBand)
    val payload = sigs.select(col("vec_id"), col("v"), col("nrm"))
    val out = cand
      .join(payload.as("x"), col("vec_a") === col("x.vec_id"))
      .join(payload.as("y"), col("vec_b") === col("y.vec_id"))
      .select(col("vec_a"), col("vec_b"),
        (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("sim"))
      .filter(col("sim") >= minSim)
      .select(col("vec_a"), col("vec_b"),
        floor(col("sim") * 1e6).cast("long").as("sim_x1e6"))
      // materialize the surviving edge set (tiny next to the
      // signature cache) through the caches, then release sigs:
      // repeated library calls must not leak block-store entries
      // (same discipline as componentLabels)
      .transform(graft.engine.Checkpoints.materialize)
    sigs.unpersist(blocking = false)
    out
  }

  /** The sizing law on [[nearDupPairsLsh]] as code: derive
    * (nPlanes, bitsPerBand) from the corpus size. bitsPerBand is the
    * smallest word-aligned width (8/16/32) >= log2(n), which holds the
    * RANDOM collision mass at ~n * nBands / 2^bits per vector — O(1)
    * instead of O(n) — and nBands is the smallest count driving
    * P(miss) = (1 - p^bits)^nBands below `maxMiss` for a pair at
    * `recallSim` (p = 1 - acos(sim)/pi, the hyperplane agreement
    * probability). `recallSim` is the similarity the recall guarantee
    * is priced AT — near-exact duplicates (default 0.99), NOT the
    * query threshold: pricing at a moderate threshold blows the
    * exponent up (p^bits -> 0, nBands -> thousands), which is the
    * documented signal that banding is the wrong tool there (the
    * sub-[[LshCrossoverSim]] dispatch in [[nearDupPairs]] owns that
    * regime). Pairs between minSim and recallSim are found with lower
    * probability — the standard LSH trade, made explicit.
    *
    * Worked sizes: n=2^12 -> (240, 16); n=2^16 -> (240, 16);
    * n=2^30 -> (1152, 32) — a 1e9-vector corpus needs ~18 signature
    * words per vector, ~150 B, which is why [[lshSignatureWords]] is
    * multi-word and the signature kernel is fused
    * ([[graft.functions.LshSignatureWordsExpr]]). */
  def lshBandConfig(n: Long, recallSim: Double = 0.99,
                    maxMiss: Double = 1e-4): (Int, Int) = {
    require(n > 0, "empty corpus has no config")
    val bits = lshBitsForCorpus(n)
    val nBands = lshBandsForBits(bits, recallSim, maxMiss)
    (bits * nBands, bits)
  }

  /** The corpus-size half of [[lshBandConfig]]: the smallest
    * word-aligned band width (8/16/32) >= ceil(log2 n). The ONLY part
    * of the law that depends on the data — [[lshBandsForBits]] is a
    * pure function of the (recallSim, maxMiss) constants, so a
    * replaying oracle needs just this integer tier switch in SQL plus
    * the per-tier band counts as constants (q76). */
  def lshBitsForCorpus(n: Long): Int = {
    val log2n =
      if (n <= 1) 1 else 64 - java.lang.Long.numberOfLeadingZeros(n - 1)
    if (log2n <= 8) 8 else if (log2n <= 16) 16 else 32
  }

  /** The recall half of [[lshBandConfig]]: the smallest band count
    * driving P(miss) = (1 - p^bits)^nBands below `maxMiss` for a pair
    * at `recallSim` (p = the hyperplane agreement probability
    * 1 - acos(sim)/pi). Independent of the corpus — per band width it
    * is one constant of the law. */
  def lshBandsForBits(bits: Int, recallSim: Double = 0.99,
                      maxMiss: Double = 1e-4): Int = {
    require(recallSim > LshCrossoverSim && recallSim < 1.0,
      s"recall must be priced above the $LshCrossoverSim crossover")
    require(maxMiss > 0 && maxMiss < 1, "maxMiss must be a probability")
    val p = 1.0 - math.acos(recallSim) / math.Pi
    val pBand = math.pow(p, bits)
    math.max(4, math.ceil(math.log(maxMiss) / math.log1p(-pBand)).toInt)
  }

  /** [[nearDupPairsLsh]] with the banding config derived from the
    * corpus by [[lshBandConfig]] — the form a library user should
    * reach for (the fixed-config overload exists for oracle-replayable
    * registrations and regression pins). Costs one column-pruned
    * count() of the input up front. */
  def nearDupPairsLshAuto(embeddings: DataFrame, minSim: Double,
                          recallSim: Double = 0.99,
                          maxMiss: Double = 1e-4,
                          dim: Int = 64, seed: Long = 42L): DataFrame = {
    val (nPlanes, bits) = lshBandConfig(embeddings.count(), recallSim, maxMiss)
    nearDupPairsLsh(embeddings, minSim, nPlanes, bits, dim, seed)
  }

  /** Distinct candidate pairs sharing at least one signature band —
    * the pruning stage of [[nearDupPairs]], exposed so the band-width
    * vs candidate-volume trade is measurable (CandidatePruningSpec
    * asserts wide bands prune by orders of magnitude on the real
    * embeddings). `sigs` must carry (vec_id, sig). */
  def bandCandidates(sigs: DataFrame, nPlanes: Int,
                     bitsPerBand: Int): DataFrame = {
    // nPlanes == 64 is fine: the signature is raw bits (sum of distinct
    // powers of two never carries, and band extraction masks after the
    // arithmetic shift), so the sign bit is just plane 63's bit
    require(nPlanes % bitsPerBand == 0 && nPlanes <= 64,
      "nPlanes must be a multiple of bitsPerBand and fit a long")
    val nBands = nPlanes / bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    val bandStructs = (0 until nBands).map { j =>
      struct(lit(j).as("band_idx"),
        shiftright(col("sig"), bitsPerBand * j).bitwiseAND(lit(mask))
          .as("band_val"))
    }
    val bands = sigs.select(col("vec_id"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col("vec_id"), col("b.band_idx").as("band_idx"),
        col("b.band_val").as("band_val"))
    bandPairJoin(bands)
  }

  /** [[bandCandidates]] over multi-word signatures (`sigw` from
    * [[lshSignatureWords]]): band j lives in word (bitsPerBand*j)/64
    * at in-word offset (bitsPerBand*j)%64 — bitsPerBand must divide
    * 64, so a band never straddles a word boundary and extraction
    * stays one shift + one mask either way. */
  def bandCandidatesWords(sigs: DataFrame, nPlanes: Int,
                          bitsPerBand: Int): DataFrame = {
    require(bitsPerBand >= 1 && bitsPerBand <= 32 &&
      64 % bitsPerBand == 0 && nPlanes % bitsPerBand == 0,
      "bitsPerBand must divide 64 and nPlanes, and fit a long mask")
    val nBands = nPlanes / bitsPerBand
    val mask = (1L << bitsPerBand) - 1
    val bandStructs = (0 until nBands).map { j =>
      val w = (bitsPerBand * j) / 64
      val off = (bitsPerBand * j) % 64
      struct(lit(j).as("band_idx"),
        shiftright(element_at(col("sigw"), w + 1), off)
          .bitwiseAND(lit(mask)).as("band_val"))
    }
    val bands = sigs.select(col("vec_id"),
        explode(array(bandStructs: _*)).as("b"))
      .select(col("vec_id"), col("b.band_idx").as("band_idx"),
        col("b.band_val").as("band_val"))
    bandPairJoin(bands)
  }

  /** Distinct id pairs sharing a (band_idx, band_val) bucket — the
    * equi-self-join both band extractors feed; ids only, payloads
    * never ride through the candidate join. */
  private def bandPairJoin(bands: DataFrame): DataFrame =
    bands.as("a").join(bands.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()

  /** Deterministic random hyperplanes: nPlanes x dim, components in
    * [-1, 1), seeded LCG (java.util.Random is algorithmically specified,
    * so values are stable across JVMs). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextDouble() * 2 - 1)
  }

  private def signBit(v: Column, plane: Array[Double]): Column =
    when(dot(v, typedlit(plane.toSeq)) >= 0, lit(1L)).otherwise(lit(0L))

  /** Random-hyperplane LSH signature (nPlanes bits) per vector, as one
    * packed long — word 0 of the fused [[graft.functions.LshSignatureWordsExpr]]
    * kernel (bit i = sign of the plane-i dot, identical to summing
    * sign bits times 2^i). Caps nPlanes at 64; [[lshSignatureWords]]
    * lifts the cap. */
  def lshSignatures(embeddings: DataFrame, planes: Array[Array[Double]]): DataFrame = {
    require(planes.length <= 64, "use lshSignatureWords beyond 64 planes")
    lshSignatureWords(embeddings, planes)
      .withColumn("sig", element_at(col("sigw"), 1))
      .drop("sigw")
  }

  /** Multi-word LSH signature: column `sigw` = array of longs, word w
    * carrying planes [64w, 64(w+1)) as raw bits. The plane budget IS
    * the corpus-size knob (see the sizing law on [[nearDupPairsLsh]]),
    * so it must not be capped by the width of one long: 512 planes =
    * an 8-word array, still a few dozen bytes per vector next to the
    * 64-float payload. One fused codegen kernel per row — composing
    * per-plane dot expressions costs ~100x more (see
    * [[graft.functions.LshSignatureWordsExpr]]). */
  def lshSignatureWords(embeddings: DataFrame,
                        planes: Array[Array[Double]]): DataFrame = {
    val e = embeddings.select(col("vec_id"), col("embedding").as("v"),
      col("label"))
    e.withColumn("sigw",
      graft.functions.VectorFunctions.lshSigWords(col("v"), planes))
  }

  /** Approximate top-k: candidates = corpus vectors sharing at least one
    * 4-bit signature band with the query, exact cosine rerank on the
    * candidates. 32 planes -> 8 bands of 4 bits: for moderately similar
    * vectors (cos ~0.4-0.5, P(bit agree) ~0.65) per-pair recall is
    * ~0.7-0.8, while a random pair only collides on ~1 - (1-2^-4)^8 ~ 40%
    * of the corpus — the knob to turn as corpus similarity concentrates
    * (true near-dups at cos > 0.9 collide with p ~ 1). Output shape
    * matches [[bruteForceTopK]] so recall can be measured directly. */
  def annTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              seed: Long = 42L, dim: Int = 64): DataFrame = {
    val planes = hyperplanes(32, dim, seed)
    // norms computed once per vector here, carried through the bands;
    // cached because the query side below re-derives from the same plan
    val sigs = lshSignatures(embeddings, planes)
      .withColumn("nrm", l2norm(col("v"))).cache()
    def bands(df: DataFrame): DataFrame = {
      val bs = (0 until 8).map { j =>
        struct(lit(j).as("band_idx"),
          shiftright(col("sig"), 4 * j).bitwiseAND(lit(15L)).as("band_val"))
      }
      df.select(col("vec_id"), explode(array(bs: _*)).as("b"))
        .select(col("vec_id"),
          col("b.band_idx").as("band_idx"), col("b.band_val").as("band_val"))
    }
    // candidate pairs dedupe on bare ids — carrying the vectors through
    // the distinct would shuffle 64-float payloads per band collision
    val all = bands(sigs.select("vec_id", "sig"))
    val queryBands = all.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("band_idx"), col("band_val"))
    val candIds = all.join(broadcast(queryBands), Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .distinct()
    val corpus = sigs.select(col("vec_id"), col("v"), col("nrm"), col("label"))
    val queries = sigs.select(col("vec_id").as("query_id"),
      col("v").as("qv"), col("nrm").as("qn")).filter(col("query_id") < nQueries)
    val scored = candIds
      .join(corpus, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        floor(dot(col("qv"), col("v")) / (col("qn") * col("nrm")) * 1e6)
          .cast("long").as("sim_x1e6"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim_x1e6").desc, col("vec_id"))
    // materialize the (nQueries x k)-row result through the signature
    // cache, then release it: repeated library calls keep at most the
    // small result block (cache+count — Checkpoints.materialize's
    // contract: leak-free release with lineage intact)
    val out = scored.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "label", "sim_x1e6")
      .cache()
    out.count()
    sigs.unpersist(blocking = false)
    out
  }
}
