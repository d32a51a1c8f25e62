package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Hashing.{idiv, tokens}

/** Sparse lexical retrieval over the documents table — the BM25
  * ranking function (Robertson/Spärck Jones, the Okapi formulation)
  * as a distributed scoring + top-k operator. In an LLM data
  * pipeline this is the workhorse of targeted corpus selection
  * ("pull the k documents most relevant to this probe query"),
  * decontamination triage, and retrieval-based data curation — the
  * lexical complement of the embedding-space top-k in
  * [[graft.ops.Similarity]].
  *
  * House oracle discipline: every checked number is integer-exact.
  * BM25's reals are carried as floor-scaled fixed point with the
  * standard constants pinned as rationals (k1 = 1.2 = 6/5,
  * b = 0.75 = 3/4), so the DuckDB oracle replays the arithmetic
  * bit-for-bit:
  *
  *   - avgdl_x1000 = (1000·Σdl) div N            (corpus average)
  *   - idf_x1M(t)  = (10^6·(2N − 2df + 1)) div (2df + 1)
  *                   — the (N − df + ½)/(df + ½) form, doubled
  *   - tfn_x1M     = (10^6·22·tf·A) div (10·tf·A + 3·A + 9000·dl)
  *                   where A = avgdl_x1000 — algebraically
  *                   tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with the
  *                   rationals cleared
  *   - score_x1M   = Σ_terms (idf_x1M·tfn_x1M) div 10^6
  *
  * All quantities are positive, so `div` (truncation) IS floor on
  * both engines. 64-bit bounds: the largest intermediate is
  * 2.2·10^7·tf·A, safe while tf·A < 4·10^11 — comfortably beyond any
  * real document (tf ≤ dl ≤ 10^5 tokens, avgdl ≤ 4·10^6 tokens);
  * idf's 10^6·2N term bounds N < 4.6·10^12 documents. A corpus past
  * either bound would switch the two products to DECIMAL(38,0).
  *
  * Plan shape (the 100-TB question): the only corpus-sized shuffle
  * is the (doc_id, token) tf aggregation, and the explode is
  * filtered to the query's own terms BEFORE the exchange — the
  * shuffle carries O(matching tokens), not the corpus. df and the
  * corpus stats are term-count- and 1-row-sized frames joined back
  * by broadcast; the final top-k is TakeOrdered (per-partition heaps
  * + driver merge of k rows), never a global sort. Two scans of the
  * corpus (one for the dl/N/Σdl stats, one for tf); a production
  * deployment stores dl as an ingest-time column (like n_chars) and
  * drops the first scan.
  */
object Retrieval {

  /** Cheap UPPER BOUND on a token-keyed vocabulary's row count for
    * [[VocabJoin.joinBounded]]'s dispatch (round 18, r17 verdict
    * item 4): one HLL pass over the token stream — a tokenize scan
    * plus a sketch aggregate, NO cluster join and NO tf/df aggregate
    * exchanges, where [[VocabJoin.plan]]'s exact count evaluated the
    * whole corpus-sized df lineage once beyond the serving action
    * (measured ~2 s of q136's 4.4 s settled). approx_count_distinct's
    * default rsd is 5%; the +12.5% + 1024 guard makes an
    * under-estimate of the true distinct count vanishingly unlikely,
    * and a residual one could only broadcast a vocabulary a few
    * percent past the (slack-sized) row budget — never a wrong
    * result, branches are row-identical by VocabJoinSpec. */
  private def vocabBound(docs: DataFrame): Long = {
    val est = docs.select(explode(tokens(col("text"))).as("t"))
      .agg(approx_count_distinct(col("t")).as("v")).head().getLong(0)
    est + est / 8L + 1024L
  }

  /** Per-document BM25 scores against `terms` (only documents
    * matching at least one term appear). Columns:
    * (doc_id, n_terms, bm25_x1M). */
  def bm25Scores(docs: DataFrame, terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "bm25Scores needs at least one query term")
    val base = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))

    // Corpus stats: one row (N, avgdl_x1000), broadcast everywhere.
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl"))
      .select(col("n_docs"),
        idiv(lit(1000L) * col("total_dl"), col("n_docs")).as("avgdl_x1000"))

    // tf per (doc, term): the explode is pre-filtered to the query
    // terms, so the aggregation exchange carries only matching hits.
    val tf = base
      .select(col("doc_id"), col("dl"), explode(col("w")).as("token"))
      .filter(col("token").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))

    scoreFromTf(tf, stats)
  }

  /** The integer Okapi per-(doc, term) score — idf·tfn div 10⁶ —
    * over a frame carrying (tf, dl, df, n_docs, avgdl_x1000). One
    * definition serves the scan, served, and batched paths. */
  private def termScoreX1M: Column = {
    val a = col("avgdl_x1000")
    val idf = idiv(lit(1000000L) * (lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)),
      lit(2L) * col("df") + lit(1L))
    val tfn = idiv(lit(1000000L) * lit(22L) * col("tf") * a,
      lit(10L) * col("tf") * a + lit(3L) * a + lit(9000L) * col("dl"))
    idiv(idf * tfn, lit(1000000L))
  }

  /** The scoring tail shared by the scan path ([[bm25Scores]]) and
    * the served-index path ([[bm25TopKFromIndex]]): df from the
    * (already query-term-bounded) tf frame, then the integer Okapi
    * arithmetic with df and the 1-row stats broadcast back. */
  private def scoreFromTf(tf: DataFrame, stats: DataFrame): DataFrame = {
    // df per term: term-count-sized, broadcast back.
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))

    tf.join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), termScoreX1M.as("term_score_x1M"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("term_score_x1M")).as("bm25_x1M"))
  }

  /** BATCHED serving from the postings index: B probe queries in ONE
    * index pass — the amortization a serving tier lives on. One
    * bucket-pruned probe covers the UNION of every query's terms;
    * global df comes from that probe BEFORE the query fan-out (a
    * term shared by two queries must not double-count its docs);
    * the tiny (query_id, token) map then fans each hit out to its
    * queries by broadcast, per-(query, doc) scores aggregate in one
    * exchange, and per-query top-k compiles to WindowGroupLimit
    * (bounded heaps per query). Per query the result is EXACTLY
    * [[bm25TopKFromIndex]]'s ranking (spec-pinned); the cost of B
    * queries is one probe + one scored-set exchange instead of B of
    * each. Output: (query_id, rank, doc_id, n_terms, bm25_x1M). */
  def bm25TopKBatch(postings: DataFrame, stats: DataFrame,
                    queries: Map[Long, Seq[String]], k: Int): DataFrame = {
    require(queries.nonEmpty, "batch needs at least one query")
    require(queries.values.forall(_.nonEmpty), "a query has no terms")
    import org.apache.spark.sql.expressions.Window
    val spark = postings.sparkSession
    import spark.implicits._
    val allTerms = queries.values.flatten.toSeq.distinct
    val qt = queries.toSeq
      .flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("query_id", "token")
    val hits = postings.filter(col("token").isin(allTerms: _*))
      .select(col("doc_id"), col("dl"), col("token"), col("tf"))
    val df = hits.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25_x1M").desc, col("doc_id"))
    hits.join(broadcast(qt), "token")
      .join(broadcast(df), "token")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        termScoreX1M.as("term_score_x1M"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("term_score_x1M")).as("bm25_x1M"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("n_terms"), col("bm25_x1M"))
  }

  /** Top-k retrieval: (rank, doc_id, n_terms, bm25_x1M), ranked by
    * (score desc, doc_id) — integer scores + id tie-break make the
    * ranking total and hash-stable. The orderBy+limit compiles to
    * TakeOrderedAndProject; the row_number window runs over the k
    * collected rows only. */
  def bm25TopK(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = bm25Scores(docs, terms)
      .orderBy(col("bm25_x1M").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("bm25_x1M").desc, col("doc_id")))
        .cast("long"))
      .select(col("rank"), col("doc_id"), col("n_terms"), col("bm25_x1M"))
  }

  /** Hybrid retrieval: the lexical top-`nLex` ([[bm25TopK]]) and the
    * embedding top-`nVec` (exact cosine from the query vector
    * `queryVecId`, the doc universe keyed `vec_id = doc_id`) fused by
    * Reciprocal Rank Fusion (Cormack/Clarke/Büttcher 2009) — the
    * standard "hybrid search" serving shape (Elasticsearch/Vespa/
    * Weaviate): each list contributes 1/(rrfK + rank), absent docs
    * contribute nothing, and the fused order is robust to the two
    * scores living on incomparable scales (integer BM25 vs cosine).
    * House integer form: contribution = 10^6 div (rrfK + rank), so
    * the fused score replays exactly in the oracle; ties on doc_id.
    *
    * Scale shape: each side is its already-audited operator (BM25's
    * one pre-filtered corpus exchange; the vector side the q25
    * broadcast-queries one-pass scan — swap in the IVF serve for a
    * persisted index). The fusion itself touches only the two
    * ≤(nLex + nVec)-row rank lists: a full outer join of bounded
    * frames, zero corpus work.
    *
    * Output: (rank, doc_id, lex_rank, vec_rank, rrf_x1M), ranks 0
    * when the doc is absent from that list. */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
                 terms: Seq[String], queryVecId: Long, nLex: Int,
                 nVec: Int, k: Int, rrfK: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.dotProduct
    require(nLex >= 1 && nVec >= 1 && k >= 1, "list sizes must be positive")
    require(rrfK >= 0, s"rrfK must be non-negative, got $rrfK")
    val lex = bm25TopK(docs, terms, nLex)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val n = embeddings
      .select(col("vec_id").as("doc_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(dotProduct(col("v"), col("v"))))
      .filter(col("nrm") > 0d)
    val q = n.filter(col("doc_id") === queryVecId)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val vs = n.filter(col("doc_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        floor(dotProduct(col("qv"), col("v")) / (col("qn") * col("nrm"))
          * 1e6).cast("long").as("sim_x1e6"))
    val vec = vs.orderBy(col("sim_x1e6").desc, col("doc_id")).limit(nVec)
      .withColumn("vec_rank", row_number()
        .over(Window.orderBy(col("sim_x1e6").desc, col("doc_id")))
        .cast("long"))
      .select("doc_id", "vec_rank")
    val contrib = (r: Column) =>
      when(r > 0L, idiv(lit(1000000L), lit(rrfK.toLong) + r)).otherwise(0L)
    val fused = lex.join(vec, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
      .withColumn("rrf_x1M",
        contrib(col("lex_rank")) + contrib(col("vec_rank")))
    fused.orderBy(col("rrf_x1M").desc, col("doc_id")).limit(k)
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("rrf_x1M").desc, col("doc_id")))
        .cast("long"))
      .select("rank", "doc_id", "lex_rank", "vec_rank", "rrf_x1M")
  }

  /** PASSAGE retrieval — the RAG serving shape: the corpus is cut
    * into overlapping sliding-window chunks
    * ([[graft.ops.Packing.slidingWindows]], the q97 chunker) and BM25
    * ranks PASSAGES instead of documents, so a long document's one
    * relevant span wins over a diffusely-matching whole doc and the
    * returned unit is exactly what a retrieval-augmented pipeline
    * feeds the model. Pure composition: the chunk frame rides through
    * [[bm25TopK]] under a composite passage id
    * (doc_id · idSpan + chunk_idx — requires chunk_idx < idSpan,
    * i.e. docs shorter than idSpan·stride tokens, and doc_id small
    * enough that the product fits a long; both ENFORCED per row with
    * raise_error — an out-of-range doc must fail, not alias),
    * decomposed back afterwards by exact integer arithmetic. Corpus statistics
    * (df, avgdl, N) are PASSAGE-level — the standard passage-BM25
    * convention. Plan = the chunker's one projection + BM25's one
    * pre-filtered exchange; nothing new moves.
    * Output: (rank, doc_id, chunk_idx, n_terms, bm25_x1M). */
  def passageTopK(docs: DataFrame, terms: Seq[String], width: Int,
                  stride: Int, k: Int, idSpan: Long = 1000000L): DataFrame = {
    require(idSpan >= 2, s"idSpan must be >= 2, got $idSpan")
    // the composite id is only injective while chunk_idx < idSpan and
    // doc_id * idSpan cannot overflow a long — violations would ALIAS
    // into wrong (doc_id, chunk_idx) pairs, and because the oracle
    // performs the identical arithmetic the hash gate cannot see the
    // corruption. At 100-TB corpora a book-length doc (> idSpan·stride
    // tokens) is reachable, so fail loudly per offending row instead.
    val maxDocId = Long.MaxValue / idSpan - 1
    val inRange = col("chunk_idx") < idSpan &&
      col("doc_id") >= 0 && col("doc_id") <= maxDocId
    val passages = Packing.slidingWindows(docs, width, stride)
      .select(when(inRange, col("doc_id") * idSpan + col("chunk_idx"))
          .otherwise(raise_error(concat(
            lit(s"passageTopK: composite id out of range (idSpan=$idSpan"
              + ", requires 0 <= doc_id <= " + maxDocId
              + " and chunk_idx < idSpan): doc_id="),
            col("doc_id"), lit(" chunk_idx="), col("chunk_idx"))))
          .as("doc_id"),
        col("chunk_text").as("text"))
    bm25TopK(passages, terms, k)
      .select(col("rank"),
        idiv(col("doc_id"), lit(idSpan)).as("doc_id"),
        (col("doc_id") % idSpan).as("chunk_idx"),
        col("n_terms"), col("bm25_x1M"))
  }

  /** Per-document TF-IDF keyword extraction: the top `m` terms of
    * each doc by tf·idf — the tagging/labeling primitive (cluster
    * naming, topic surfacing, dedup-cluster summarization) beside
    * the query-driven BM25 path. idf is the SAME smoothed rational
    * [[bm25Scores]] uses ((10⁶·(2N−2df+1)) div (2df+1)), so one
    * integer convention covers the whole lexical family, and
    * ubiquitous tokens rank themselves out (df → N drives idf → ~0).
    * score_x1M = tf · idf_x1M; ties broken by token string.
    *
    * Plan: one corpus-sized exchange for the (doc, token) tf
    * aggregate — the honest cost of corpus-wide term statistics —
    * then the vocabulary-sized df frame joins back via
    * [[VocabJoin]]'s counted dispatch (broadcast while the
    * vocabulary fits the row budget, shuffled-hash on token when it
    * outgrows it — results identical, VocabJoinSpec), and the
    * per-doc top-m compiles to WindowGroupLimit (bounded per-group
    * heaps, no full sort). Round 17 MEASURED the df-cache alternative
    * ([[VocabJoin.joinCached]]) here and it is a WASH (interleaved A/B
    * at sf0.1: cached min 2.03 s vs uncached 1.95 s;
    * OPTIMIZATION_r17.md "q131 / q136"):
    * unlike q91/q115, the df build side shares the tf partial-agg
    * EXCHANGE with the join's stream side inside the serving action,
    * so ReuseExchange already dedupes it — the cache can only shave
    * the dispatch count's own pass, which it instead PAYS to fill the
    * cache. Kept on the plain counted dispatch (no block-store
    * pressure for zero pass savings).
    * Output: (doc_id, rank, token, tf, score_x1M). */
  def tfidfKeywords(docs: DataFrame, m: Int): DataFrame =
    tfidfKeywordsDispatch(docs, m, cachedDispatch = false)

  /** [[tfidfKeywords]] with the round-17 df cache switchable —
    * `cachedDispatch = true` is the measured-and-rejected cached
    * form, kept ONLY as VocabJoinCachedSpec's parity twin so the
    * recorded comparison can never drift from the production kernel. */
  private[graft] def tfidfKeywordsDispatch(docs: DataFrame, m: Int,
      cachedDispatch: Boolean): DataFrame = {
    require(m >= 1, s"m=$m must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.select(count(lit(1)).as("n_docs"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = idiv(lit(1000000L) *
      (lit(2L) * col("n_docs") - lit(2L) * col("df") + lit(1L)),
      lit(2L) * col("df") + lit(1L))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_x1M").desc, col("token"))
    (if (cachedDispatch) VocabJoin.joinCached(tf, df, Seq("token"))
     else VocabJoin.joinBounded(tf, df, Seq("token"), vocabBound(docs)))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"), col("tf"),
        (col("tf") * idf).as("score_x1M"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"),
        col("score_x1M"))
  }

  /** Per-CLUSTER TF-IDF labels — [[tfidfKeywords]] lifted from docs
    * to near-dup clusters: the top `m` terms of each cluster's pooled
    * text by tf·idf, where idf treats each CLUSTER as one document
    * (N = distinct clusters in the `clusters` frame — including
    * token-less ones, mirroring q131's all-docs N; df = clusters
    * containing the token). This is the SemDeDup/cluster-triage
    * naming primitive: after q35/q46/q67 build duplicate clusters,
    * this says WHAT each cluster is (the license block, the template
    * family, the quote chain) so curation can act on named groups
    * instead of opaque root ids. Any (doc_id, cluster_root) frame
    * drops in — exact q35, embedding q46, capped q67 (the q113
    * composition contract).
    *
    * Plan: the cluster map joins the corpus stream (cluster frames
    * are corpus-row-sized but 2-int columns; Spark picks the join
    * side), then exactly q131's exchange shape keyed by cluster —
    * one corpus-sized (cluster, token) aggregate, vocabulary-sized
    * df via [[VocabJoin]]'s counted dispatch, per-cluster top-m
    * through WindowGroupLimit. Same smoothed integer idf rational as
    * the whole lexical family. Round 17 MEASURED the df-cache
    * alternative here and it is a WASH like q131's (at sf0.1: cached
    * min 6.33 s vs uncached 5.43 s, inside the rep noise; same
    * OPTIMIZATION_r17.md section): the df build side reuses the
    * (cluster, token) partial-agg exchange inside the serving action,
    * so only the dispatch count's pass is in play and the cache pays
    * that pass to fill itself.
    * Kept on the plain counted dispatch. Output:
    * (cluster_root, rank, token, tf, score_x1M). */
  def clusterKeywords(docs: DataFrame, clusters: DataFrame,
                      m: Int): DataFrame =
    clusterKeywordsDispatch(docs, clusters, m, cachedDispatch = false)

  /** [[clusterKeywords]] with the round-17 df cache switchable —
    * `cachedDispatch = true` is the measured-and-rejected cached
    * form, kept ONLY as VocabJoinCachedSpec's parity twin. */
  private[graft] def clusterKeywordsDispatch(docs: DataFrame,
      clusters: DataFrame, m: Int, cachedDispatch: Boolean): DataFrame = {
    require(m >= 1, s"m=$m must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val tagged = docs
      .join(clusters.select(col("doc_id"), col("cluster_root")), "doc_id")
      .select(col("cluster_root"), explode(tokens(col("text"))).as("token"))
    val tf = tagged.groupBy(col("cluster_root"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val nGroups = clusters.select(col("cluster_root")).distinct()
      .agg(count(lit(1)).as("n_groups"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val idf = idiv(lit(1000000L) *
      (lit(2L) * col("n_groups") - lit(2L) * col("df") + lit(1L)),
      lit(2L) * col("df") + lit(1L))
    val w = Window.partitionBy("cluster_root")
      .orderBy(col("score_x1M").desc, col("token"))
    // the bound comes from the UNCLUSTERED docs (distinct tokens over
    // clustered docs ⊆ distinct tokens over all docs): the bound pass
    // skips the cluster join AND both aggregates the exact count paid
    (if (cachedDispatch) VocabJoin.joinCached(tf, df, Seq("token"))
     else VocabJoin.joinBounded(tf, df, Seq("token"), vocabBound(docs)))
      .crossJoin(broadcast(nGroups))
      .select(col("cluster_root"), col("token"), col("tf"),
        (col("tf") * idf).as("score_x1M"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= m)
      .select(col("cluster_root"), col("rank"), col("token"), col("tf"),
        col("score_x1M"))
  }

  /** Materialize the FULL inverted index — the search-tier artifact
    * the scan path recomputes per query: one row per (token, doc)
    * posting `(token, doc_id, dl, tf)`, bucketed AND sorted by token
    * so a query's `token IN (…)` probe reads only its terms' buckets
    * (bucket pruning — the lexical analogue of [[Pq.buildIvfPqIndex]]'s
    * cell buckets), plus the 1-row corpus stats `(n_docs,
    * avgdl_x1000)` written beside it (serving must NOT pay a corpus
    * pass to rediscover N and avgdl). Build cost is the two corpus
    * scans [[bm25Scores]] pays per query, paid ONCE; the index is
    * ~one row per distinct (doc, token), the classic postings size.
    * Returns the postings catalog table name; stats live at
    * `<warehouse>/<table>_stats`. */
  def buildPostingsIndex(docs: DataFrame, warehouse: String,
                         table: String, nBuckets: Int): String = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    // stats carry the RAW totals (n_docs, total_dl) beside the derived
    // avgdl: an absorb updates exactly from the totals, where updating
    // from the floored average would compound rounding per batch
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("total_dl"))
      .select(col("n_docs"), col("total_dl"),
        idiv(lit(1000L) * col("total_dl"), col("n_docs")).as("avgdl_x1000"))
    graft.engine.TableStore.write(stats, warehouse, s"${table}_stats")
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("w")).as("token"))
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("token"), col("doc_id"), col("dl"), col("tf"))
    graft.engine.TableStore.writeBucketed(postings, warehouse, table,
      nBuckets, Seq("token"), Seq("token"))
  }

  /** Absorb a delta batch INTO the persisted postings index — the
    * add-half of the lexical build-once/serve-many lifecycle, the
    * mirror of [[IvfIndex.absorbIntoCellIndex]] on the vector side:
    * the delta's postings APPEND to the bucketed table (an insert
    * into a datasource-bucketed table writes new per-bucket files
    * honoring the catalog's bucket spec — history is never rewritten,
    * so the append cost is |delta|'s postings regardless of index
    * size), and the 1-row stats update EXACTLY from the carried raw
    * totals (n' = n + n_d, t' = t + t_d, avgdl' = 1000·t' div n'),
    * atomically re-swapped. df needs no maintenance — serve derives
    * it from the probed postings. Same non-atomicity caveat as the
    * vector absorb (partial batch on crash → re-run idempotently by
    * doc range, or a transactional format in production). Caller
    * contract: delta doc_ids disjoint from the index. Grown index ≡
    * from-scratch index under q110's oracle (q124 gates it). */
  def absorbIntoPostingsIndex(postingsTable: String, warehouse: String,
                              table: String, delta: DataFrame): Unit = {
    val spark = delta.sparkSession
    val base = delta.select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
      .cache()
    graft.engine.TableStore.toBucketLayout(spark, postingsTable, base
      .select(col("doc_id"), col("dl"), explode(col("w")).as("token"))
      .groupBy(col("token"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .select(col("token"), col("doc_id"), col("dl"), col("tf")))
      .write.mode("append").insertInto(postingsTable)
    val d = base.agg(count(lit(1)), sum(col("dl"))).head()
    base.unpersist(blocking = false)
    val old = spark.read.parquet(graft.engine.TableStore
        .tablePath(warehouse, s"${table}_stats"))
      .select(col("n_docs"), col("total_dl")).head()
    val n2 = old.getLong(0) + d.getLong(0)
    val t2 = old.getLong(1) + (if (d.isNullAt(1)) 0L else d.getLong(1))
    require(n2 > 0, "absorb into an empty index with an empty delta")
    val stats = spark.range(1).select(
      lit(n2).as("n_docs"), lit(t2).as("total_dl"),
      lit(1000L * t2 / n2).as("avgdl_x1000"))
    graft.engine.TableStore.write(stats, warehouse, s"${table}_stats")
  }

  /** Materialize a POSITIONAL postings index — (token, doc_id,
    * positions), the layout phrase queries exist for: a classic
    * postings row says "doc d contains t"; the sorted 1-based
    * position list says WHERE, which is what adjacency (phrase)
    * predicates consume at query time. Same bucketed-by-token layout
    * and bucket-pruned probe story as [[buildPostingsIndex]]. One
    * posexplode + one grouped collect; positions lists are
    * per-(token, doc) sized — the standard positional-index payload
    * (Manning et al., IR, ch. 2). */
  def buildPositionalIndex(docs: DataFrame, warehouse: String,
                           table: String, nBuckets: Int): String = {
    val posting = docs
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos0", "token")))
      .groupBy(col("token"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos0").cast("long") + lit(1L)))
        .as("positions"))
      .select(col("token"), col("doc_id"), col("positions"))
    graft.engine.TableStore.writeBucketed(posting, warehouse, table,
      nBuckets, Seq("token"), Seq("token"))
  }

  /** Phrase search from a positional index: per doc, the number of
    * token positions i where tokens i..i+m−1 spell `phrase` —
    * OVERLAPPING occurrences included (the position-join definition,
    * matching the lockstep-unnest adjacency oracle). The query-time
    * plan probes the index once per DISTINCT phrase term (each probe
    * bucket-pruned to that term's bucket), joins the m position
    * lists per doc — join keys are doc_id, frames are
    * matching-doc-sized — and evaluates adjacency per row over the
    * first term's positions. No corpus scan, no tokenize at query
    * time; only docs containing every term survive to the adjacency
    * test. Output: (doc_id, n_occ), n_occ ≥ 1. */
  def phraseCountFromIndex(postings: DataFrame,
                           phrase: Seq[String]): DataFrame = {
    require(phrase.size >= 2, "a phrase query needs >= 2 terms")
    val frames = phrase.zipWithIndex.map { case (t, i) =>
      postings.filter(col("token") === t)
        .select(col("doc_id"), col("positions").as(s"p${i + 1}"))
    }
    val joined = frames.reduce(_.join(_, "doc_id"))
    val adjacent = (2 to phrase.size)
      .map(j => (x: Column) => array_contains(col(s"p$j"), x + lit(j - 1L)))
    val occ = size(filter(col("p1"),
      x => adjacent.map(f => f(x)).reduce(_ && _))).cast("long")
    joined.select(col("doc_id"), occ.as("n_occ"))
      .filter(col("n_occ") > 0L)
  }

  /** Compact the postings index — the maintenance half that makes
    * per-batch absorption sustainable: every [[absorbIntoPostingsIndex]]
    * appends one file set per bucket, so after N batches a bucket
    * holds N+1 small files and the serve-side probe pays N+1 opens
    * per touched bucket. Compaction reads the table once and rewrites
    * it through [[graft.engine.TableStore.writeBucketed]]'s staged
    * atomic swap (same bucket spec, one sorted file per bucket task;
    * readers never observe a half state; the pre-compaction layout
    * survives as `.bak_` until the swap commits). Stats are untouched
    * — compaction changes layout, not content; serve results are
    * bit-identical before and after (spec + q128's unchanged oracle).
    * The streaming vector ingest runs the same rhythm on the cell
    * index ([[graft.streaming.StreamingVectorIngest]]); this is the
    * lexical twin. Returns the (re-registered) catalog name. */
  def compactPostingsIndex(spark: org.apache.spark.sql.SparkSession,
                           warehouse: String, table: String,
                           nBuckets: Int): String = {
    import org.apache.hadoop.fs.Path
    val name = graft.engine.TableStore.bucketedName(spark, warehouse, table)
    // Pin the rewrite's input to a SNAPSHOT of the current file list
    // and read by path: writeBucketed drops the live catalog entry
    // mid-publish, and a plan still resolving through that entry would
    // race the swap. The by-path plan needs no catalog — and, unlike
    // the cache()+count() formulation this replaces, no second copy of
    // the (corpus-sized) index in the block store. The staging write
    // fully materializes into `.tmp_` BEFORE any rename touches these
    // files, so the snapshot stays readable for the whole execution.
    val schema = spark.table(name).schema
    val dst = new Path(graft.engine.TableStore.tablePath(warehouse, table))
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(fs.makeQualified(dst))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toString)
    // repartition on the bucket key before the bucketed write:
    // repartition's HashPartitioning and Spark's bucket id are the
    // same pmod(murmur3, n), so each task holds exactly ONE bucket
    // and the output is exactly one sorted file per bucket — the
    // guaranteed-shrink contract a compactor exists for. (Without
    // it, bucketBy splits per input task: files = tasks × buckets,
    // and the count depends on how the scan packed the input files.)
    // The exchange is the compactor's honest cost; a shuffle-free
    // variant would group the absorb files by the bucket id in their
    // NAMES and merge per bucket outside the DataFrame API.
    val rows = spark.read.schema(schema).parquet(files.toIndexedSeq: _*)
      .repartition(nBuckets, col("token"))
    graft.engine.TableStore.writeBucketed(rows, warehouse, table,
      nBuckets, Seq("token"), Seq("token"))
  }

  /** Serve top-k from a PERSISTED postings index
    * ([[buildPostingsIndex]]): the query-time plan is a bucket-pruned
    * index probe (`token IN (terms)` touches only the terms' buckets
    * — `.explain` shows `SelectedBucketsCount`), then the same
    * integer scoring tail as the scan path over the hit rows only.
    * No tokenize, no explode, no corpus scan at query time; df and
    * stats stay broadcast-sized. Result ≡ [[bm25TopK]] row-for-row
    * (RetrievalSpec), so q122 runs under q110's unchanged oracle. */
  def bm25TopKFromIndex(postings: DataFrame, stats: DataFrame,
                        terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromIndex needs a query term")
    import org.apache.spark.sql.expressions.Window
    val tf = postings.filter(col("token").isin(terms: _*))
      .select(col("doc_id"), col("dl"), col("token"), col("tf"))
    val top = scoreFromTf(tf, stats)
      .orderBy(col("bm25_x1M").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("bm25_x1M").desc, col("doc_id")))
        .cast("long"))
      .select(col("rank"), col("doc_id"), col("n_terms"), col("bm25_x1M"))
  }
}
