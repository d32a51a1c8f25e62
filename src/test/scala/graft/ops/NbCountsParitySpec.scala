package graft.ops

import graft.SparkSpec
import graft.engine.Tables
import org.apache.spark.sql.functions._

/** The token-count LM kernel VARIANTS hosted in [[NbCounts]]
  * (docTokenCounts / nbLangClassifierCounts /
  * crossEntropySelectCounts) — the shared-single-tokenize-pass forms
  * round 17 measured a WASH against the gated per-occurrence kernels
  * (the first "~2× slower" reading was the A/B harness's own cache
  * bias — postmortem in PLANS.md, "The NB-gate single-pass idea:
  * measured, and it buys nothing") and therefore did NOT ship in the
  * capstone.
  * That A/B conclusion is only meaningful if the variants
  * compute the same rows, so the binding contract stays pinned: every
  * Σ_tokens f(t) term replayed as Σ_distinct cnt·f(t), integer math
  * throughout — on hand-worked corpora with the edge cases that
  * could break it (multiplicities, zero-token train docs in the
  * priors, zero-token held-out docs) and on the real sf0.001/sf0.01
  * documents tables. Also pins the [[TextAnalysis.nbScore]]
  * trust-split law the round-17 pinned-trust ladder point uses. */
class NbCountsParitySpec extends SparkSpec {

  private def handCorpus = {
    val sp = spark
    import sp.implicits._
    // multiplicity-heavy texts (the whole point of the counts form),
    // a zero-token TRAIN doc (27, NULL text — tokens() of ""/blank is
    // a single "" token, only NULL is truly token-free: priors must
    // count it though it has no count-frame row), a zero-token
    // held-out doc (3, NULL text: no output row from either kernel),
    // a whitespace-only held-out doc (4: one "" token, scored by
    // both), and a NULL-lang train doc (37: dropped from the class
    // set by both)
    Seq(
      (7L, Option("aa"), Option("xx xx xx yy xx"), Option("src0")),
      (17L, Option("bb"), Option("yy yy zz yy yy yy"), Option("src1")),
      (27L, Option("aa"), Option.empty[String], Option("src0")),
      (37L, Option.empty[String], Option("zz zz"), Option("src1")),
      (0L, Option("aa"), Option("xx xx yy"), Option("src0")),
      (1L, Option("bb"), Option("yy zz yy"), Option("src1")),
      (2L, Option("bb"), Option("ww"), Option("src0")),
      (3L, Option("aa"), Option.empty[String], Option("src1")),
      (4L, Option("bb"), Option("   "), Option("src0")))
      .toDF("doc_id", "lang", "text", "source")
  }

  test("docTokenCounts: hand-worked multiplicities, case folding, " +
    "whitespace runs; carry columns ride the key") {
    val sp = spark
    import sp.implicits._
    val docs = Seq((1L, "en", "A a  b\tA"), (2L, "de", "b"))
      .toDF("doc_id", "lang", "text")
    val got = NbCounts.docTokenCounts(docs)
      .orderBy("doc_id", "t").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(got === Seq((1L, "en", "a", 3L), (1L, "en", "b", 1L),
      (2L, "de", "b", 1L)))
  }

  test("nbLangClassifierCounts is row-identical to the classic " +
    "kernel on the edge-case corpus (multiplicities, zero-token " +
    "train doc in the priors, zero-token held-out doc absent)") {
    val docs = handCorpus
    val classic = TextAnalysis.nbLangClassifier(docs)
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    val counts = NbCounts.nbLangClassifierCounts(docs,
        NbCounts.docTokenCounts(docs))
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    assert(classic.nonEmpty, "fixture produced no classified docs")
    assert(counts === classic)
    // the zero-token (NULL-text) held-out doc has no row in either
    // frame; the whitespace-only doc IS scored (its one "" token)
    assert(!classic.exists(_.startsWith("[3,")))
    assert(classic.exists(_.startsWith("[4,")))
  }

  test("crossEntropySelectCounts is row-identical to the classic " +
    "kernel on the edge-case corpus") {
    val docs = handCorpus
    val pred = col("source") === "src0"
    val classic = TextAnalysis.crossEntropySelect(docs, pred,
        buckets = 8, thetaX1000 = 0L)
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    val counts = NbCounts.crossEntropySelectCounts(
        NbCounts.docTokenCounts(docs, Seq("source")), pred,
        buckets = 8, thetaX1000 = 0L)
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    assert(classic.nonEmpty, "fixture produced no CE scores")
    assert(counts === classic)
  }

  test("nbScore trust-split law: the mod-slice classifier is exactly " +
    "nbScore over the slice split, and an external-trust gate over " +
    "the held-out corpus keeps exactly the gated keep-set minus the " +
    "unconditional train slice") {
    val docs = handCorpus
    val seven = pmod(col("doc_id"), lit(10L)) === 7
    val viaScore = TextAnalysis.nbScore(docs.filter(seven),
        docs.filter(!seven))
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    val classic = TextAnalysis.nbLangClassifier(docs)
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    assert(viaScore === classic)
    // capstone law: nbGate = slice ∪ correct(held-out); nbGateTrust
    // over the held-out corpus with trust = the slice itself scores
    // the same model against the same docs
    val gated = graft.queries.Capstone.nbGate(docs)
    val trust = graft.queries.Capstone.nbGateTrust(
      docs.filter(!seven), docs.filter(seven))
    val gatedIds = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    val trustIds = trust.select("doc_id").collect().map(_.getLong(0)).toSet
    val sliceIds = docs.filter(seven).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(gatedIds === (trustIds ++ sliceIds))
    graft.engine.Checkpoints.release(gated)
    graft.engine.Checkpoints.release(trust)
  }

  test("nbScore's pivot and past-budget fallback branches are " +
    "row-identical on the edge corpus, and argmin ties break to the " +
    "lexicographically smallest class in both") {
    val docs = handCorpus
    def run() = TextAnalysis.nbLangClassifier(docs)
      .orderBy("doc_id").collect().toSeq.map(_.toString)
    val pivot = run() // default budget (128) → pivot branch
    spark.conf.set(TextAnalysis.NbPivotMaxClassesKey, "0")
    val fallback = try run()
      finally spark.conf.unset(TextAnalysis.NbPivotMaxClassesKey)
    assert(pivot === fallback, "pivot vs fallback diverged")
    // constructed exact tie: identical per-class stats (both classes
    // train on the same text, same doc count), so every held-out
    // score ties across classes and the argmin must pick the
    // lexicographically smallest class — in the pivot branch that is
    // array_min's struct comparison, in the fallback min(struct)
    val sp = spark
    import sp.implicits._
    val train = Seq((1L, "aa", "xx"), (2L, "bb", "xx"))
      .toDF("doc_id", "lang", "text")
    val test_ = Seq((10L, "bb", "xx"), (11L, "aa", "yy unseen"))
      .toDF("doc_id", "lang", "text")
    def preds() = TextAnalysis.nbScore(train, test_)
      .orderBy("doc_id").collect().toSeq
    val pPiv = preds()
    spark.conf.set(TextAnalysis.NbPivotMaxClassesKey, "0")
    val pCls = try preds()
      finally spark.conf.unset(TextAnalysis.NbPivotMaxClassesKey)
    assert(pPiv.map(_.toString) === pCls.map(_.toString))
    assert(pPiv.forall(_.getString(2) == "aa"),
      s"tie must break to the smallest class: $pPiv")
  }

  test("parity holds on the real documents tables (sf0.001 and " +
    "sf0.01) for both kernels") {
    Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01").foreach { d =>
      val docs = Tables.floored(spark, d, "documents", "doc_id")
        .select("doc_id", "text", "lang", "source")
      val tok = NbCounts.docTokenCounts(docs, Seq("lang", "source"))
      val nbClassic = TextAnalysis.nbLangClassifier(docs)
        .orderBy("doc_id").collect().toSeq.map(_.toString)
      val nbCounts = NbCounts.nbLangClassifierCounts(docs, tok)
        .orderBy("doc_id").collect().toSeq.map(_.toString)
      assert(nbCounts === nbClassic, s"NB diverges at $d")
      val pred = col("source") === "src0"
      val ceClassic = TextAnalysis.crossEntropySelect(docs, pred,
          buckets = 256, thetaX1000 = 0L)
        .orderBy("doc_id").collect().toSeq.map(_.toString)
      val ceCounts = NbCounts.crossEntropySelectCounts(tok, pred,
          buckets = 256, thetaX1000 = 0L)
        .orderBy("doc_id").collect().toSeq.map(_.toString)
      assert(ceCounts === ceClassic, s"CE diverges at $d")
    }
  }
}
