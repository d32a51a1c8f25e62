package graft.ops

import graft.SparkSpec

/** Round-17 single-pass vocab-cache twins: the `cachedDispatch` flag
  * on tfidfKeywords / clusterKeywords / referenceOverlapScore swaps
  * [[VocabJoin.join]] for [[VocabJoin.joinCached]] and MUST be
  * row-invisible — it only changes whether the vocabulary frame's
  * lineage re-runs per action. Round 17 measured the two at sf0.1
  * (q91 ships cached, 1.22 → 0.85 s; q131/q136 measured a wash and
  * ship uncached — OPTIMIZATION_r17.md "q91 / q95" and "q131 / q136");
  * this spec pins that the flag can never change a result, on both
  * the shipped and the rejected settings, so the recorded A/B and the
  * gate stay comparable across rounds. */
class VocabJoinCachedSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "the cat sat on the mat", "src0"),
    (1L, "the dog ate the cat food", "src1"),
    (2L, "a mat and a cat and a dog", "src0"),
    (3L, "the cat sat on the mat", "src1"),
    (4L, "entirely novel words here today", "src1"))
    .toDF("doc_id", "text", "source")

  test("cached and uncached dispatch twins are row-identical for " +
    "tfidfKeywords, clusterKeywords and referenceOverlapScore") {
    spark.sharedState.cacheManager.clearCache()
    val tfidf = Seq(true, false).map(c =>
      Retrieval.tfidfKeywordsDispatch(corpus, 2, c)
        .orderBy("doc_id", "rank").collect().toSeq)
    assert(tfidf.head === tfidf.last, "tfidfKeywords twins diverged")

    val clusters = Dedup.dupClusters(corpus, 0.8, bucketCap = Some(16))
    val ck = Seq(true, false).map(c =>
      Retrieval.clusterKeywordsDispatch(corpus, clusters, 2, c)
        .orderBy("cluster_root", "rank").collect().toSeq)
    assert(ck.head === ck.last, "clusterKeywords twins diverged")

    val ref = Seq(true, false).map(c =>
      TextAnalysis.referenceOverlapDispatch(corpus, "src0", 1, c)
        .orderBy("doc_id").collect().toSeq)
    assert(ref.head === ref.last, "referenceOverlapScore twins diverged")
    // the exact-duplicate pair (docs 0 and 3) must actually cluster,
    // or the clusterKeywords assertion above compared trivial input
    assert(clusters.filter($"cluster_root" =!= $"doc_id").count() > 0,
      "fixture regression: no non-trivial cluster in the corpus")
    spark.sharedState.cacheManager.clearCache()
  }

  test("the shipped q91 form serves the vocabulary from the cache " +
    "(InMemoryRelation in the executed plan)") {
    spark.sharedState.cacheManager.clearCache()
    val out = TextAnalysis.referenceOverlapScore(corpus, "src0", 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan") ||
      plan.contains("InMemoryRelation"),
      s"expected the cached ref vocabulary in the serving plan:\n$plan")
    spark.sharedState.cacheManager.clearCache()
  }

  test("round 18 lifecycle: the q91 vocab cache is RELEASED after the " +
    "serving action completes in a held-open session") {
    // r17 verdict item 7 / ADVICE 1: joinCached left one vocab-sized
    // CacheManager entry per call for the session's lifetime; the
    // one-shot QueryExecutionListener must unpersist it once the
    // serving action (vocab AND stream subtrees present) completes.
    spark.sharedState.cacheManager.clearCache()
    val out = TextAnalysis.referenceOverlapScore(corpus, "src0", 1)
    assert(!spark.sharedState.cacheManager.isEmpty,
      "fixture: the dispatch count must have populated the cache")
    out.write.format("noop").mode("overwrite").save() // the serving action
    // listener delivery is async — poll bounded
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (System.nanoTime() < deadline &&
           !spark.sharedState.cacheManager.isEmpty) Thread.sleep(100)
    assert(spark.sharedState.cacheManager.isEmpty,
      "the vocab cache must not linger after the serving action")
  }

  test("round 18 lifecycle: the over-budget joinCached branch never " +
    "parks the vocabulary in the block store") {
    // ADVICE 2: the old form cached the frame BEFORE the size
    // dispatch, materializing into executor memory exactly the
    // vocabulary the shuffle_hash branch exists to keep out of it.
    spark.sharedState.cacheManager.clearCache()
    spark.conf.set("graft.vocab.broadcastMaxRows", "0")
    try {
      val out = TextAnalysis.referenceOverlapScore(corpus, "src0", 1)
      val plan = out.queryExecution.executedPlan.toString
      assert(plan.contains("ShuffledHashJoin"),
        s"over-budget branch must shuffle-hash join:\n$plan")
      assert(!plan.contains("InMemoryTableScan"),
        s"over-budget branch must not serve from a cache:\n$plan")
      out.collect()
      val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
             !spark.sharedState.cacheManager.isEmpty) Thread.sleep(100)
      assert(spark.sharedState.cacheManager.isEmpty,
        "the dispatch-count cache must be dropped on the shuffled branch")
    } finally spark.conf.unset("graft.vocab.broadcastMaxRows")
  }

  test("round 18 bound dispatch: tfidf/clusterKeywords evaluate in " +
    "exactly TWO executions, and the dispatch action is the HLL bound " +
    "— it touches neither the tf aggregate nor the cluster join") {
    // r17 verdict item 4: VocabJoin.plan()'s exact count evaluated the
    // whole corpus-sized df lineage once beyond the serving action
    // (for q136: cluster join + (cluster, token) tf + df — measured
    // ~2 s of its 4.4 s settled). joinBounded's only extra action is
    // the one-pass HLL sketch over the token stream.
    val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { seen.add(qe.analyzed.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    def settledCount(expect: Int): Int = {
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline &&
             (seen.size < expect || seen.size != last)) {
        last = seen.size; Thread.sleep(200)
      }
      seen.size
    }
    val clusters = Dedup.dupClusters(corpus, 0.8, bucketCap = Some(16))
      .collect() // pre-materialize the fixture OUTSIDE the counted window
    val clustersDf = clusters.toSeq.map(r =>
      (r.getLong(r.fieldIndex("doc_id")),
        r.getLong(r.fieldIndex("cluster_root"))))
      .toDF("doc_id", "cluster_root")
    spark.listenerManager.register(listener)
    try {
      assert(Retrieval.clusterKeywords(corpus, clustersDf, 2)
        .collect().nonEmpty)
      assert(settledCount(2) === 2,
        s"expected 2 executions (HLL bound + collect), got ${seen.size}")
      val bound = seen.get(0)
      assert(bound.contains("approx_count_distinct"),
        s"dispatch action must be the HLL sketch:\n$bound")
      assert(!bound.contains(" tf#") && !bound.toLowerCase.contains("join"),
        s"dispatch action must not evaluate the tf aggregate or the " +
          s"cluster join:\n$bound")
      seen.clear()
      assert(Retrieval.tfidfKeywords(corpus, 2).collect().nonEmpty)
      assert(settledCount(2) === 2,
        s"expected 2 executions (HLL bound + collect), got ${seen.size}")
      assert(seen.get(0).contains("approx_count_distinct"))
      assert(!seen.get(0).contains(" tf#"))
    } finally spark.listenerManager.unregister(listener)
  }
}
