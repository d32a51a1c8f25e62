package graft.tools

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Synthetic corpus scaler for scale-law validation runs (round-5
  * task #6 / round-6 verdict #9): replicates the `documents` and
  * `embeddings` tables of a source sf dir `factor`-fold with shifted
  * ids, WITHOUT multiplying the duplicate-pair density:
  *
  *  - documents: every NON-STOPWORD token gets a per-replica suffix
  *    `~r<k>` (tokenization is a whitespace split, so the suffix stays
  *    inside its token); the quality-gate stopwords and langid marker
  *    words pass through unchanged. The per-replica token map
  *    (stopword -> itself, w -> w~rk) is still injective — a suffixed
  *    token can never equal a carried stopword — so the shingle space
  *    maps injectively per replica: intra-replica Jaccard — and
  *    therefore MinHash/LSH candidate density — is preserved EXACTLY.
  *    Cross-replica, any shingle containing >= 1 non-stopword token
  *    stays replica-unique; only ALL-stopword n-grams are shared, a
  *    bounded leak the capped band paths absorb (measured: see
  *    PLANS.md q73 rows). Carrying stopwords is what earlier rounds
  *    got wrong ONE level up: suffixing every token zeroed the
  *    stopword-ratio signal, the quality gate dropped 100% of
  *    replicas, and q73's scaled runs timed an EMPTY corpus
  *    (documented in PLANS.md round 9). Two other rejected designs
  *    measured the wrong thing: naive replication (same text, 10
  *    copies) gives every doc >= 9 exact dups and grows the pair set
  *    ~45x (output explosion, not scaling); an earlier separator tag
  *    (whitespace -> ` r<k> `) minted shingles like (rk, w, rk) that
  *    depend on ONE shared word, so every unrelated same-replica doc
  *    pair shared shingles — measured 601 LSH candidates per doc at
  *    x10 vs the true 1.9 (~2000x inflation; 2.4e9-row verification
  *    join). Run with factor=1 for the matching baseline (non-stopword
  *    token lengths grow slightly, so raw-sf numbers are close but not
  *    identical — compare factor=10 against factor=1).
  *
  *  - embeddings: element i of replica k is multiplied by the sign
  *    (1 - 2 * pmod(hash(k, i), 2)) — a per-replica +-1 pattern.
  *    Applying the same pattern to both members of any pair leaves
  *    every intra-replica cosine bit-identical (products x_i*y_i are
  *    sign^2-invariant), while cross-replica cosines decorrelate
  *    toward 0, so the near-dup graph scales linearly with the corpus
  *    as a real 10x corpus would.
  *
  * Usage: ScaleGen <srcSfDir> <dstDir> <factor>
  * (runs in [[graft.Bench]]'s session: `SPARK_GRAFT_CPUS` cores)
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcSfDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    val spark = graft.Bench.newSession()

    val docs = Tables(spark, src, "documents")
    val nDocs = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    // quality-gate stopwords (TextAnalysis.quality) + langid marker
    // words (TextAnalysis.langId) pass through unsuffixed so the
    // per-replica gate and language signals replay the source corpus.
    // Derived from the SAME constants the gates read — a hard-coded
    // copy here silently diverged once already (round 9: every scaled
    // replica failed the stopword gate and q73 timed an empty corpus).
    val carried = (graft.ops.TextAnalysis.QualityStopwords ++
      graft.ops.TextAnalysis.LangMarkers.flatMap(_._2)).distinct
    val tokenRe =
      s"(?i)(?<!\\S)(?!(?:${carried.mkString("|")})(?!\\S))\\S+"
    (0 until factor).map { k =>
      docs.select(
        (col("doc_id") + lit(k.toLong * nDocs)).as("doc_id"),
        regexp_replace(col("text"), tokenRe, s"$$0~r$k").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")

    // events: replica k shifts event_id and user_id into disjoint
    // ranges with ts/type/value/props untouched — every replica
    // carries an identical per-user temporal structure (sessions,
    // as-of pairings, running totals), so keyed-window results scale
    // exactly linearly while no key ever gains extra rows.
    val ev = Tables(spark, src, "events")
    val nEvents = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val nUsers = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      ev.select(
        (col("event_id") + lit(k.toLong * nEvents)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(k.toLong * nUsers)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/events.parquet")

    val emb = Tables(spark, src, "embeddings")
    val nVecs = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    (0 until factor).map { k =>
      emb.select(
        (col("vec_id") + lit(k.toLong * nVecs)).as("vec_id"),
        transform(col("embedding"),
          (x, i) => x * (lit(1) - lit(2) * pmod(hash(lit(k), i), lit(2)))
            .cast("float")).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")

    println(s"wrote $dst: documents=${nDocs * factor} events=${nEvents * factor} embeddings=${nVecs * factor}")
    spark.stop()
  }
}
