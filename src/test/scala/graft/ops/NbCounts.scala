package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Hashing.{h60, idiv, tokens}

/** The token-count forms of the NB gate and the cross-entropy select:
  * both stages consume one per-document token MULTIPLICITY frame
  * (doc_id, carry columns, t, cnt) and every Σ_tokens f(t) becomes
  * Σ_distinct cnt·f(t). Round 17 measured them a wash against the
  * gated per-occurrence kernels at x100 (PLANS.md, "The NB-gate
  * single-pass idea: measured, and it buys nothing"), so they did not
  * ship; [[NbCountsParitySpec]] keeps them row-identical to the
  * production kernels so the recorded comparison stays meaningful. */
object NbCounts {

  /** Per-document token multiplicities — the shared-pass frame.
    * `carryCols` rides doc-constant metadata through the group key
    * (functionally dependent on doc_id: no cardinality change). */
  def docTokenCounts(docs: DataFrame,
                     carryCols: Seq[String] = Seq("lang")): DataFrame = {
    val keys = col("doc_id") +: carryCols.map(col)
    docs.select(keys :+ explode(tokens(col("text"))).as("t"): _*)
      .groupBy(keys :+ col("t"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** [[TextAnalysis.nbScore]] over precomputed [[docTokenCounts]]
    * frames: trainDocs feeds ONLY the class priors (zero-token train
    * docs have no count row but must count), trainTok the per-class
    * token stats, testTok the scored rows. Row-identical to the
    * classic kernel — every Σ_tokens bits term replayed as
    * Σ_distinct cnt·bits, exact integer multiply; NbCountsParitySpec
    * pins the equality on hand-worked edges and real tables. */
  def nbScoreCounts(trainDocs: DataFrame, trainTok: DataFrame,
                    testTok0: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same NULL-lang convention as the classic kernel (see there)
    val cnt = trainTok.filter(col("lang").isNotNull)
      .select(col("lang").as("c_lang"), col("t"), col("cnt"))
      .groupBy("c_lang", "t").agg(sum(col("cnt")).as("c"))
      .cache()
    val tc = cnt.groupBy("c_lang").agg(sum(col("c")).as("t_c"))
    val v = cnt.select("t").distinct().agg(count(lit(1)).as("v"))
    val train = trainDocs.filter(col("lang").isNotNull)
    val cls = train.groupBy(col("lang").as("c_lang"))
      .agg(count(lit(1)).as("n_c"))
    val nTot = train.agg(count(lit(1)).as("n"))
    val cdef = cls.join(tc, Seq("c_lang"), "left")
      .crossJoin(broadcast(v)).crossJoin(broadcast(nTot))
      .select(col("c_lang"),
        (length(bin(coalesce(col("t_c"), lit(0L)) + col("v"))) - 1)
          .cast("long").as("bdef"),
        (length(bin(idiv(col("n"), col("n_c")))) - 1)
          .cast("long").as("bprior"))
    val bits = cnt.join(tc, Seq("c_lang")).crossJoin(broadcast(v))
      .select(col("c_lang"), col("t"),
        (length(bin(idiv(col("t_c") + col("v"), col("c") + lit(1L)))) - 1)
          .cast("long").as("b"))
    val testTok = testTok0
      .select(col("doc_id"), col("lang"), col("t"), col("cnt"))
    val scored = VocabJoin.join(
        testTok.crossJoin(broadcast(cdef)), bits, Seq("c_lang", "t"), "left")
      .groupBy(col("doc_id"), col("lang"), col("c_lang"), col("bprior"))
      .agg(sum(coalesce(col("b"), col("bdef")) * col("cnt")).as("sb"))
      .select(col("doc_id"), col("lang"), col("c_lang"),
        (col("bprior") + col("sb")).as("bits_total"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("bits_total").asc, col("c_lang").asc)
    val out = scored.withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("doc_id"), col("lang"), col("c_lang").as("pred_lang"),
        col("bits_total"), (col("lang") === col("c_lang")).as("correct"))
      .transform(graft.engine.Checkpoints.materialize)
    cnt.unpersist(blocking = false)
    out
  }

  /** [[TextAnalysis.nbLangClassifier]]'s mod-slice split over a
    * [[docTokenCounts]] frame, delegating to [[nbScoreCounts]]. */
  def nbLangClassifierCounts(docs: DataFrame, tokCounts: DataFrame,
                             trainMod: Int = 10,
                             trainRem: Int = 7): DataFrame = {
    val isTrain = pmod(col("doc_id"), lit(trainMod.toLong)) === trainRem
    nbScoreCounts(docs.filter(isTrain), tokCounts.filter(isTrain),
      tokCounts.filter(!isTrain))
  }

  /** [[TextAnalysis.crossEntropySelect]] over a [[docTokenCounts]]
    * frame — same integer-bits law, every token-stream aggregate
    * weighted by cnt; row-identical to the classic kernel
    * (NbCountsParitySpec). */
  def crossEntropySelectCounts(tokCounts: DataFrame, targetPred: Column,
                               buckets: Int = 1024,
                               thetaX1000: Long = 0L): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tok = tokCounts
      .select(col("doc_id"), targetPred.as("is_t"),
        pmod(h60(col("t")), lit(buckets.toLong)).as("b"), col("cnt"))
    val cnt = tok.groupBy("b").agg(
      sum(col("cnt")).as("c_r"),
      sum(when(col("is_t"), col("cnt")).otherwise(0L)).as("c_t"))
    val tot = cnt.agg(sum(col("c_r")).as("t_r"), sum(col("c_t")).as("t_t"))
    val lm = cnt.crossJoin(broadcast(tot))
      .select(col("b"),
        (length(bin(idiv(col("t_t") + lit(buckets.toLong),
          col("c_t") + lit(1L)))) - 1).cast("long").as("bits_t"),
        (length(bin(idiv(col("t_r") + lit(buckets.toLong),
          col("c_r") + lit(1L)))) - 1).cast("long").as("bits_r"))
    tok.join(broadcast(lm), Seq("b"))
      .groupBy(col("doc_id"), col("is_t"))
      .agg(sum(col("cnt")).as("n_tokens"),
        sum((col("bits_t") - col("bits_r")) * col("cnt")).as("dsum"))
      .select(col("doc_id"), col("is_t").as("is_target"), col("n_tokens"),
        idiv(lit(1000L) * col("dsum"),
          greatest(col("n_tokens"), lit(1L))).as("ce_diff_x1000"))
      .withColumn("keep", col("ce_diff_x1000") <= thetaX1000)
  }
}
