package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Hashing.tokens

/** Distributed BPE (byte-pair-encoding) merge training — the
  * tokenizer-training stage of a pretraining pipeline (Sennrich,
  * Haddow & Birch 2016, "Neural Machine Translation of Rare Words
  * with Subword Units"; the word-level trainer GPT-2/SentencePiece
  * descend from).
  *
  * The classic algorithm: collapse the corpus to a word vocabulary
  * {word → count}; represent each word as a character-symbol
  * sequence; repeatedly (a) count adjacent symbol pairs weighted by
  * word count, (b) merge the most frequent pair into one symbol
  * everywhere. The learned merge list IS the tokenizer.
  *
  * Distributed shape — the key fact is that after the first pass the
  * working set is the VOCABULARY, not the corpus:
  *  - one corpus pass + one shuffle builds {word → count} with
  *    map-side combine (the q30 token-count shape); at 100 TB the
  *    corpus is read once, ever;
  *  - each merge step is a pair-explode + sum aggregate over the
  *    (cached) vocabulary — millions of rows, not corpus rows — and a
  *    distributed TakeOrdered(1) for the argmax: the only thing the
  *    driver ever holds is ONE (pair, count) row per step, which is
  *    bounded state exactly like a real BPE trainer's merge list;
  *  - the merge rewrite is a literal string replace on the spaced
  *    symbol encoding (below) — a map-only projection, no shuffle.
  *
  * Symbol encoding and determinism (oracle-replayable): a word's
  * symbol sequence is kept as the string " c h a r s " (symbols
  * space-joined, one leading/trailing space). Merging pair (a, b) is
  * the reference trainer's greedy left-to-right token scan — walk the
  * symbols, fuse (a, b) wherever both match, skip past what was just
  * fused ("a a a" → "aa a"; "a a a a a" → "aa aa a"; "abab" →
  * "ab ab") — implemented as the data-driven
  * [[graft.functions.BpeApplyExpr]] kernel on the Spark side and as a
  * windowed gaps-and-islands selection in the DuckDB oracle (a
  * literal string `replace` CANNOT express this scan: it consumes the
  * delimiter spaces, so it misses back-to-back disjoint occurrences
  * and mispairs self-pair runs). Pair counts weight every adjacent
  * occurrence (the classic count; the count/merge overlap mismatch
  * is part of the original algorithm). Argmax tie-break: highest
  * total, then lexicographically smallest pair — a total order, so
  * the merge sequence is unique. Symbols never contain spaces (they
  * are concatenations of non-space characters), so the spaced
  * encoding is unambiguous.
  */
object Bpe {

  /** {word → count} over the corpus, empty tokens dropped. */
  def wordVocab(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("cnt"))

  /** The spaced character-symbol encoding of a word:
    * "abc" → " a b c ". */
  private[ops] def spacedChars(w: Column): Column =
    concat(lit(" "),
      concat_ws(" ", transform(sequence(lit(1), length(w)),
        i => w.substr(i, lit(1)))),
      lit(" "))

  /** Adjacent symbol pairs of a spaced encoding, as "a b" strings —
    * one entry per occurrence (overlaps counted, the classic BPE
    * statistic). Empty for single-symbol words. Backed by the
    * [[graft.functions.BpeAdjacentPairsExpr]] codegen kernel: the
    * original `transform` formulation was a HigherOrderFunction
    * (CodegenFallback), which ejected the trainer's per-round
    * pair-count projection — its hot loop — from whole-stage
    * codegen. */
  private[ops] def adjacentPairs(s: Column): Column =
    graft.functions.TextFunctions.bpeAdjacentPairs(s)

  /** Apply a trained merge list to the corpus and count subwords per
    * document — the tokenizer APPLIED, closing the train→tokenize
    * loop (and the number a data pipeline actually bills by: tokens
    * under the learned vocabulary, not whitespace words).
    *
    * The merges are a driver-held Seq of "a b" pairs in training
    * order — bounded state (the merge list IS the tokenizer; real
    * vocabularies are ~30k entries). Applying them runs the same
    * greedy token scan as training over the VOCABULARY's words, fused
    * into ONE data-driven codegen kernel by
    * [[graft.functions.BpeApplyExpr]] — constant plan size whether
    * the tokenizer has 6 merges or 30k — after which
    * each word's subword count joins back to the corpus word stream
    * and sums per document. Two exchanges total at any corpus size:
    * the vocab groupBy and the per-doc sum; the merge application
    * itself never touches corpus rows.
    *
    * Output: (doc_id, n_words, n_subwords) — wordless docs at (0, 0). */
  def subwordCounts(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val vocab = wordVocab(docs)
    val merged = graft.functions.TextFunctions.bpeEncode(col("w"), merges)
    val vmap = vocab.select(col("w"),
      size(split(trim(merged), " ")).cast("long").as("n_sub"))
    // one null sentinel word per doc (the q91 trick): every doc is
    // present in the per-doc aggregate — count(w) skips the sentinel
    // and a null w matches nothing in the vocab join — so no
    // corpus-sized join-back of the doc list is needed. Exchanges:
    // the vocab-keyed word join and the per-doc sum, nothing else.
    val dw = docs.select(col("doc_id"),
      explode(concat(
        filter(coalesce(tokens(col("text")),
          array().cast("array<string>")), _ =!= ""),
        array(lit(null).cast("string")))).as("w"))
    dw.join(vmap, Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(col("w")).as("n_words"),
        coalesce(sum(col("n_sub")), lit(0L)).as("n_subwords"))
      .select("doc_id", "n_words", "n_subwords")
  }

  /** Train `steps` merges over the corpus's word vocabulary.
    * Returns the merge table: (step 1-based, pair "a b", total
    * weighted count) — the trained artifact, in merge order. Stops
    * early if no pair remains (tiny corpora).
    *
    * Step-count honesty: each merge is one distributed aggregate over
    * the cached vocabulary — ~1.5 s of fixed job overhead per step at
    * local[32] (PLANS.md "Text operators (q91–q93)"). Fine for the
    * tens-to-hundreds of merges the oracle-checked q92 exercises; a
    * production 30k-merge vocabulary trains through
    * [[trainMergesBatched]], which amortizes the scheduler round-trips
    * ~batch-fold. This strict form is the batch=1 special case, kept as
    * the exact-Sennrich regression anchor. */
  def trainMerges(docs: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    val spark = docs.sparkSession
    import spark.implicits._
    // localCheckpoint, not cache: an iterative trainer's per-round
    // DataFrame otherwise NESTS the whole prior lineage — the logical
    // plan (and AQE's per-job explain string) grows quadratically
    // with rounds and OOMs the DRIVER long before data is a problem
    // (measured: 24 strict rounds at sf0.1 blew an 8 GB heap in
    // AdaptiveSparkPlanExec.onUpdatePlan). Eager local checkpoint
    // materializes the round AND truncates the plan to a LogicalRDD;
    // superseded checkpoints are freed by the ContextCleaner once
    // unreferenced. (Local = executor-resident blocks: right for a
    // driver-looped trainer; a multi-day 100 TB train would swap in
    // reliable checkpointing to survive executor loss.)
    var vocab = wordVocab(docs)
      .select(spacedChars(col("w")).as("s"), col("cnt"))
      .localCheckpoint(true)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    var done = false
    while (step <= steps && !done) {
      val best = vocab
        .select(explode(adjacentPairs(col("s"))).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("pair")).limit(1)
        .collect()
      if (best.isEmpty) done = true
      else {
        val pair = best(0).getString(0)
        val total = best(0).getLong(1)
        merges += ((step, pair, total))
        val next = vocab.select(
          graft.functions.TextFunctions.bpeMergeSpaced(
            col("s"), Seq(pair)).as("s"), col("cnt"))
          .localCheckpoint(true)
        // free the superseded round's blocks NOW (Dataset.unpersist
        // is a no-op on checkpointed frames; waiting for the
        // ContextCleaner strands one vocab copy per merge — at
        // production step counts that is thousands of copies)
        graft.engine.Checkpoints.release(vocab)
        vocab = next
        step += 1
      }
    }
    // the result is driver rows; the final vocab pin is loop-internal
    graft.engine.Checkpoints.release(vocab)
    merges.toSeq.toDF("step", "pair", "total")
      .select(col("step").cast("int").as("step"), col("pair"),
        col("total").cast("long").as("total"))
  }

  /** Batched BPE training: up to `batch` pairwise-DISJOINT merges per
    * distributed round — the standard step-count refinement that
    * makes a 30k-merge production vocabulary trainable. Strict
    * one-merge-per-job training ([[trainMerges]]) pays ~1.5 s of
    * fixed scheduler overhead per merge at local[32]; at 30k merges
    * that is ~12 h of pure driver round-trips even though each
    * round's DATA cost is vocabulary-bounded. Batching divides the
    * round count by ~batch at slightly different — documented, still
    * deterministic, still oracle-replayable — greedy semantics.
    *
    * Why disjoint batching is sound: merging pair (a, b) only
    * destroys adjacencies that involve symbol a or b and only creates
    * adjacencies involving the fused symbol "ab" — the weighted count
    * of any pair touching NONE of {a, b, ab} is untouched. So kept
    * pairs that are mutually disjoint on that closure all apply at
    * their exact pre-round counts in rank order (blocking the FUSED
    * symbol matters: "ab" can also arise from a different split, and
    * a later kept pair touching it would merge occurrences this round
    * creates); only the (documented) interleaving with merges a
    * strict trainer would have discovered mid-round differs.
    *
    * Deterministic, SQL-replayable selection: rank the round's pairs
    * by (total DESC, pair); restrict to the top-`candPool` candidates
    * (bounded driver state — the only thing collected per round, like
    * the strict trainer's single argmax row); walk the ranking,
    * keeping a pair iff neither of its symbols is among any
    * already-kept pair's {a, b, ab}, until `batch` are kept or
    * candidates run out. The round
    * structure is FIXED up front — ceil(steps/batch) rounds, round r
    * capped at min(batch, steps − (r−1)·batch) — so a conflict-heavy
    * round that keeps fewer merges does NOT shift later rounds, and
    * the oracle can replay the schedule as a static CTE chain. Kept
    * merges apply in rank order in ONE kernel projection
    * ([[graft.functions.BpeApplyExpr]]); the {a, b, ab} closure
    * guarantees each kept pair's scan sees exactly its pre-round
    * occurrences, untouched by the earlier kept merges.
    *
    * Returns (step 1-based global, round 1-based, pair, total) with
    * totals measured at the ROUND start (exact for every kept pair,
    * per the disjointness argument). May return fewer than `steps`
    * rows when conflicts or exhaustion shrink rounds — shrunk rounds
    * do NOT backfill (the fixed schedule is what lets the oracle
    * replay the rounds as static CTEs).
    *
    * Conflict worst case, stated plainly: every candidate shares a
    * symbol with the rank-1 keep. A HUB corpus — one symbol adjacent
    * to everything, e.g. the word "abacadae", where every adjacent
    * symbol pair contains "a" — keeps exactly ONE merge per round
    * whatever `batch` is, for as long as the hub dominates the pool:
    * the rank-1 keep's {a, x, ax} closure blocks everything else, so
    * batched training degrades to strict training's round count while
    * still paying the `candPool`-row ranking per round, and the
    * result has `rounds` rows instead of `steps`. (A plain chain
    * "a b c d e" is NOT the worst case — blocked candidates don't
    * block each other, so alternating pairs survive. And the
    * degradation is self-limiting: fused symbols like "ab"/"ac" are
    * new symbols that eventually pair with EACH OTHER, recovering
    * parallelism in later rounds.) `candPool` cannot help: a deeper
    * pool only adds candidates the closure already blocks. Real
    * corpora sit far from this (PLANS.md measures 22/24 kept at
    * batch=8); size `candPool` for the DIVERSITY of the top pairs
    * (8·batch default), not against hubs. BpeSpec pins the
    * adversarial case. */
  /** The greedy symbol-disjoint selection walk of
    * [[trainMergesBatched]], as a pure function (the oracle mirrors
    * it as chained NOT-EXISTS CTEs): walk `cand` in rank order,
    * keeping a pair iff neither of its symbols is in any earlier kept
    * pair's {a, b, ab} closure. Blocking the FUSED symbol matters —
    * "ab" can also arise from a different split (e.g. "abc" from
    * ("a","bc") earlier and ("ab","c") now), and a later kept pair
    * touching it would merge occurrences this round CREATES, so its
    * pre-round count would no longer be exact. */
  private[ops] def selectDisjoint(cand: Seq[(String, Long)],
                                  cap: Int): Seq[(String, Long)] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val used = scala.collection.mutable.Set.empty[String]
    val it = cand.iterator
    while (it.hasNext && kept.size < cap) {
      val (pair, total) = it.next()
      val Array(a, b) = pair.split(" ", 2)
      if (!used(a) && !used(b)) {
        kept += ((pair, total))
        used += a
        used += b
        used += a + b
      }
    }
    kept.toSeq
  }

  def trainMergesBatched(docs: DataFrame, steps: Int, batch: Int,
                         candPool: Int = 0): DataFrame = {
    require(steps >= 1, s"steps must be >= 1, got $steps")
    require(batch >= 1, s"batch must be >= 1, got $batch")
    val pool = if (candPool > 0) candPool else 8 * batch
    require(pool >= batch, s"candPool $pool < batch $batch")
    val spark = docs.sparkSession
    import spark.implicits._
    // localCheckpoint per round, not cache: see trainMerges — plan
    // lineage must stay constant-size across rounds or the driver
    // OOMs on plan strings at production round counts
    var vocab = wordVocab(docs)
      .select(spacedChars(col("w")).as("s"), col("cnt"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String, Long)]
    val rounds = (steps + batch - 1) / batch
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val cap = math.min(batch, steps - (round - 1) * batch)
      val cand = vocab
        .select(explode(adjacentPairs(col("s"))).as("pair"), col("cnt"))
        .groupBy("pair").agg(sum(col("cnt")).as("total"))
        .orderBy(col("total").desc, col("pair")).limit(pool)
        .collect()
      if (cand.isEmpty) exhausted = true
      else {
        val kept = selectDisjoint(
          cand.toSeq.map(r => (r.getString(0), r.getLong(1))), cap)
        kept.foreach { case (p, t) =>
          out += ((out.size + 1, round, p, t))
        }
        val next = vocab.select(
          graft.functions.TextFunctions.bpeMergeSpaced(
            col("s"), kept.map(_._1).toSeq).as("s"), col("cnt"))
          .localCheckpoint(true)
        // see trainMerges: release the superseded round's vocab pin
        // eagerly, one stranded copy per round otherwise
        graft.engine.Checkpoints.release(vocab)
        vocab = next
        round += 1
      }
    }
    graft.engine.Checkpoints.release(vocab)
    out.toSeq.toDF("step", "round", "pair", "total")
      .select(col("step").cast("int").as("step"),
        col("round").cast("int").as("round"), col("pair"),
        col("total").cast("long").as("total"))
  }
}
