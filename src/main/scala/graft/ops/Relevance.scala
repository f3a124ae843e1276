package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form

/**
 * Lexical relevance scoring and rank fusion — the retrieval half of a
 * training-data pipeline (mining documents for a topic, building seed sets,
 * fusing lexical and embedding rankings before human review).
 *
 * BM25 here is the Lucene/Okapi form (Robertson et al., TREC-3; the +1 idf
 * shift is Lucene's non-negative variant). Everything is a projection over
 * one corpus-stats row, so the scan stays in whole-stage codegen and the
 * only data movement is a 1-row broadcast — the 100 TB shape: corpus stats
 * are an aggregate, scoring is map-side.
 */
object Relevance {

  /** BM25 score of every document against a fixed bag of query `terms`.
    *
    * Corpus statistics (N, avgdl, per-term document frequency) come from ONE
    * global aggregation producing a single row that broadcasts to the
    * scoring projection — no per-term join, no explode. Per-document term
    * frequencies are array filters over the token projection (integers, so
    * the only floating-point is the final score formula → round(6) makes it
    * cross-engine replayable).
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)). */
  def bm25(df: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: empty query")
    val toks = TextOps.tokens(col(textCol))
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      size(filter(col("_w"), x => x === lit(t))).cast("double").as(s"_tf$i")
    }
    val withToks = df
      .withColumn("_w", toks)
      .withColumn("_n", size(col("_w")).cast("double"))
    val perDoc = withToks.select(col(idCol) +: col("_n") +: tfCols: _*)
    // "_ndocs", not "_N": Spark resolution is case-insensitive by default,
    // so an "_N" stats column is ambiguous against the per-doc "_n"
    val statAggs = count(lit(1)).cast("double").as("_ndocs") +:
      avg(col("_n")).as("_avgdl") +:
      terms.indices.map(i =>
        sum((col(s"_tf$i") > 0).cast("long")).cast("double").as(s"_df$i"))
    val stats = perDoc.agg(statAggs.head, statAggs.tail: _*)
    val scored = perDoc.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"_tf$i")
      val idf = log(lit(1.0) +
        (col("_ndocs") - col(s"_df$i") + 0.5) / (col(s"_df$i") + 0.5))
      idf * tf * lit(k1 + 1.0) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("_n") / col("_avgdl")))
    }.reduce(_ + _)
    scored.select(col(idCol), col("_n").cast("long").as("n_tokens"),
      round(score, 6).as("bm25"))
  }

  /** Impact-ordered inverted-index postings — the persisted text-retrieval
    * sibling of the e13 ANN index: build once, serve many. Each posting is
    * (term, doc, weight_micro) where the weight is the query-INDEPENDENT
    * part of BM25 (idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·|d|/avgdl)) — the
    * whole per-term summand, since none of it depends on the query), so
    * serving any term bag is just Σ weights per doc over matched terms.
    * Static pruning keeps the top `maxPostings` postings per term by
    * impact (weight desc, doc asc) — the Lucene/WAND-style trade: a hot
    * term's low-impact tail can't reach any top-k anyway, and the index
    * size bound becomes |vocab|·maxPostings instead of corpus-sized.
    *
    * Weights ship as integer MICROS (`floor(w·1e6)` — floor, not round:
    * tie-free cross-engine, the q44 lesson), so serving sums are exact
    * and order-independent — no float accumulation across partitions.
    *
    * Scale shape: one (doc, term) shuffle for tf, one term shuffle shared
    * by the df aggregate and the pruning window (WindowGroupLimit keeps
    * per-task state at maxPostings per term), corpus stats broadcast as
    * one row. */
  def bm25IndexPostings(df: DataFrame, idCol: String, textCol: String,
                        maxPostings: Int, k1: Double = 1.2,
                        b: Double = 0.75): DataFrame = {
    require(maxPostings > 0, "bm25IndexPostings: maxPostings must be > 0")
    // consumed by the tf pipeline AND the corpus-stats aggregate —
    // materialize once so the corpus isn't tokenized twice (the
    // jaccardPairs/minhashLsh multi-consumer policy)
    val toks = Materialize(df.select(col(idCol).as("doc"),
      TextOps.tokens(col(textCol)).as("_w")))
    val tf = toks
      .select(col("doc"), size(col("_w")).cast("double").as("_dl"),
        explode(col("_w")).as("term"))
      .groupBy(col("doc"), col("term"), col("_dl"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val stats = toks.agg(count(lit(1)).cast("double").as("_ndocs"),
      avg(size(col("_w")).cast("double")).as("_avgdl"))
    val dft = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("_dft"))
    val idf = log(lit(1.0) +
      (col("_ndocs") - col("_dft") + 0.5) / (col("_dft") + 0.5))
    val tfPart = col("_tf") * lit(k1 + 1.0) /
      (col("_tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("_dl") / col("_avgdl")))
    val wnd = Window.partitionBy(col("term"))
      .orderBy(col("weight_micro").desc, col("doc").asc)
    tf.join(dft, Seq("term")).crossJoin(broadcast(stats))
      .withColumn("weight_micro",
        floor(idf * tfPart * 1e6).cast("long"))
      .withColumn("_rn", row_number().over(wnd))
      .filter(col("_rn") <= maxPostings)
      .select(col("term"), col("doc"), col("weight_micro"))
  }

  /** Serve a term-bag query from a [[bm25IndexPostings]] table: Σ matched
    * posting weights per doc (exact integer sum), global top-`k` via
    * [[topKRanks]]. The term filter is a tiny isin against the index scan
    * — with the index written partitioned/bucketed by term it becomes
    * partition pruning; nothing here touches raw documents. Query terms
    * must match the index's token normalization ([[TextOps.tokens]]:
    * lowercase alphanumerics) — an uppercase query term matches nothing. */
  def bm25IndexQuery(index: DataFrame, terms: Seq[String], k: Int)
  : DataFrame = {
    require(terms.nonEmpty, "bm25IndexQuery: empty query")
    topKRanks(
      index.filter(col("term").isin(terms: _*))
        .groupBy(col("doc"))
        .agg(sum(col("weight_micro")).as("score_micro")),
      "score_micro", "doc", k)
  }

  /** RAG context assembly over a [[bm25IndexPostings]] index: for every
    * query in a (qid, term) bag table, retrieve the top-`k` documents and
    * greedily pack them into a token budget in rank order — the step
    * that turns a retrieval index into the `context` field of a RAG
    * training example (or a serving prompt). Emits one row per retained
    * (qid, rank): score, the doc's token count, the running
    * `cum_tokens`, and `in_context` = the greedy keep decision
    * (cum ≤ budget) — rows past the budget stay visible with flag 0, so
    * the table also answers "what got truncated".
    *
    * Determinism: posting weights are the index's exact integers, so
    * per-(qid, doc) scores are exact BIGINT sums; ranking is
    * (score_micro desc, doc asc) — total order; the packing cumsum is
    * an integer window over unique ranks. No float anywhere at query
    * time — the one transcendental (BM25's ln) was baked into the index
    * at build time.
    *
    * Scale shape: the query bag broadcasts (a serving batch is small);
    * candidates per query are bounded BY CONSTRUCTION at
    * |query terms| · maxPostings — d54's impact pruning caps each
    * term's posting list, so per-query work is independent of corpus
    * size. The rank window partitions by qid over those bounded
    * candidate sets (parallelism = batch size, the standard serving
    * shape), and the token join streams the corpus against the
    * broadcast k-row winner set. */
  def ragContextPack(index: DataFrame, queryTerms: DataFrame,
                     docTokens: DataFrame, k: Int, budgetTokens: Long)
  : DataFrame = {
    require(k >= 1, "ragContextPack: k must be >= 1")
    val scored = index.join(broadcast(queryTerms), Seq("term"))
      .groupBy(col("qid"), col("doc"))
      .agg(sum(col("weight_micro")).as("score_micro"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc").asc)
    val top = scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
    val cumW = Window.partitionBy(col("qid")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    broadcast(top).join(docTokens, Seq("doc"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(cumW))
      .withColumn("in_context",
        (col("cum_tokens") <= budgetTokens).cast("long"))
      .select(col("qid"), col("rank"), col("doc"), col("score_micro"),
        col("n_tokens"), col("cum_tokens"), col("in_context"))
  }

  /** Global top-`k` of `df` by (`scoreCol` desc, `idCol` asc), with a dense
    * 1-based `rank` column. The sort+limit is Spark's TakeOrdered (per
    * partition top-k, then a k-row merge on the driver-side exchange) — no
    * global sort of the corpus; the row_number window then runs on k rows.
    * This is the only sane shape for "rank the corpus" at scale: a global
    * rank over every row is a single-partition window by construction, so
    * rank only what you keep. */
  def topKRanks(df: DataFrame, scoreCol: String, idCol: String, k: Int)
  : DataFrame = {
    val ord = Seq(col(scoreCol).desc, col(idCol).asc)
    df.orderBy(ord: _*).limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(ord: _*)))
  }

  /** Sparse TF-IDF cosine near-duplicate pairs (a < b, sim >= threshold)
    * over word n-gram shingles — the weighted sibling of
    * `Dedup.jaccardPairs`: where Jaccard counts shared shingles, this
    * weights them by rarity, so boilerplate shared by everything barely
    * moves the score while a shared rare phrase dominates it.
    *
    * Weights are the smoothed sklearn tf-idf ([[TextOps.tfidf]] formula:
    * tf · (ln((N+1)/(df+1)) + 1)); per-doc norms cover the FULL weighted
    * vector. Candidate pairs come from a posting-list equi-join restricted
    * to shingles with df <= maxPostings — the quadratic-blowup guard: a
    * shingle shared by every document would otherwise emit |corpus|² join
    * rows, and docs qualify as candidates only through the discriminative
    * end of their vocabulary, which is exactly what tf-idf rewards. The
    * dot product then re-joins candidates against the full posting lists
    * of BOTH sides, so `sim` is the true sparse cosine over every shared
    * shingle, not just the rare ones that nominated the pair.
    *
    * Scale shape: every join is an equi-join on shingle or doc id; the
    * posting-list join is bounded by maxPostings² per shingle; no step is
    * ever all-pairs in corpus size. Norms round to 9 dp and sims to 6 dp
    * so both sides of the oracle compare on the same grid. */
  def sparseCosinePairs(df: DataFrame, idCol: String, toks: Column, n: Int,
                        threshold: Double, maxPostings: Int,
                        minShared: Int = 1,
                        keepShared: Boolean = false): DataFrame = {
    val nDocs = df.agg(count(lit(1)).cast("double").as("_nd"))
    val tf = df.select(col(idCol).as("doc"),
        explode(TextOps.shingles(toks, n)).as("s"))
      .groupBy(col("doc"), col("s")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("s")).agg(count(lit(1)).as("_df"))
    // weighted postings feed four branches (norms, both candidate sides,
    // both dot sides) — materialized so the tokenize/shingle/agg
    // pipeline runs once
    val w = Materialize(tf.join(dfreq, Seq("s"))
      .crossJoin(broadcast(nDocs))
      .withColumn("w", col("tf").cast("double") *
        (log((col("_nd") + 1.0) / (col("_df").cast("double") + 1.0)) + 1.0))
      .select(col("doc"), col("s"), col("_df"), col("w")))
    val norms = w.groupBy(col("doc"))
      .agg(round(sqrt(sum(col("w") * col("w"))), 9).as("nrm"))
    // candidate rule = BOTH knobs: pairs must share >= minShared distinct
    // shingles of df <= maxPostings. One rare-shingle hit is weak evidence
    // on a repetitive vocabulary (measured at sf0.1: 1 hit -> 1.13M
    // candidate pairs for 256 true near-dups; 2 hits at df<=10 -> 17k
    // candidates, 255/256 recall) — and every candidate pays a full
    // posting-list join in the verify stage below, so candidate count IS
    // the cost of this operator. The count aggregate replaces the
    // distinct() — same shuffle, and the (doc,s) input is already unique.
    val rare = w.filter(col("_df") <= maxPostings)
    // `keepShared` carries the shared-rare-shingle count through the
    // verify: the minShared=m rule's verified output is EXACTLY the
    // minShared=1 output filtered to n_shared >= m (same weights, same
    // verify), so an audit comparing candidate rules needs ONE pipeline
    // pass, not one per rule — the verify join over the loosest rule's
    // candidates is the dominant cost and runs once either way.
    val cand = rare.select(col("doc").as("a"), col("s"))
      .join(rare.select(col("doc").as("b"), col("s")), Seq("s"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("_ns"))
      .filter(col("_ns") >= minShared)
      .select(col("a") +: col("b") +:
        (if (keepShared) Seq(col("_ns").as("n_shared")) else Nil): _*)
    val num = cand
      .join(w.select(col("doc").as("a"), col("s"), col("w").as("wa")),
        Seq("a"))
      .join(w.select(col("doc").as("b"), col("s"), col("w").as("wb")),
        Seq("b", "s"))
      .groupBy(col("a") +: col("b") +:
        (if (keepShared) Seq(col("n_shared")) else Nil): _*)
      .agg(sum(col("wa") * col("wb")).as("num"))
    num
      .join(norms.select(col("doc").as("a"), col("nrm").as("na")), Seq("a"))
      .join(norms.select(col("doc").as("b"), col("nrm").as("nb")), Seq("b"))
      .withColumn("sim", round(col("num") / (col("na") * col("nb")), 6))
      .filter(col("sim") >= threshold)
      .select(col("a") +: col("b") +: col("sim") +:
        (if (keepShared) Seq(col("n_shared")) else Nil): _*)
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): each input list
    * contributes 1/(kRrf + rank) per id; ids missing from a list contribute
    * nothing. Input lists are (idCol, rankCol) — typically [[topKRanks]]
    * outputs, so each is k rows and the fusion aggregate is k·|lists| rows
    * total regardless of corpus size. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
              kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no lists")
    lists.map(_.select(col(idCol),
        (lit(1.0) / (lit(kRrf.toDouble) + col(rankCol))).as("_c")))
      .reduce(_.unionByName(_))
      .groupBy(col(idCol))
      .agg(round(sum(col("_c")), 6).as("rrf_score"),
        count(lit(1)).as("n_lists"))
  }
}
