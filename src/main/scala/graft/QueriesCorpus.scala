package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form
import graft.ops._
import graft.schema.Tables
import graft.QueriesText._

/** Registry slice d25-d40: corpus-level statistics, language modeling, phrase mining, drift scoring and the Zipf fit.
  * Shared helpers (docs/emb/tokSql/shCte/md5HashSql/quality+lang SQL and
  * the MinHash constants) live in [[QueriesText]]; registration order is
  * assembled there. */
private[graft] object QueriesCorpus {

  // ------------------------------------------------- vocabulary top-k
  // Corpus-wide term frequencies, top 500 — the vocab/BPE-seed builder.
  // One shuffle (term counts with map-side combine), then TakeOrdered
  // top-k: per-partition top-500 + a 500-row merge, never a global sort
  // or a single-partition window over the vocabulary.
  private val d25: (String, QFn, Option[String]) = ("d25_vocab_topk",
    (s, d) => {
      val counts = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      Relevance.topKRanks(counts, "cnt", "term", 500)
        .withColumn("rank", col("rank").cast("long"))
    },
    Some(s"""WITH t AS (SELECT unnest($tokSql) AS term FROM documents),
      |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1)
      |SELECT term, cnt,
      | row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
      |FROM c ORDER BY cnt DESC, term ASC LIMIT 500""".stripMargin))

  // --------------------------------------------- unigram LM surprisal
  // Mean per-token surprisal −log2 p(t) under the corpus's own unigram
  // LM — the deterministic stand-in for perplexity-based quality
  // filtering (CCNet-style: implausibly low/high surprisal → machine
  // text / noise). LM table is vocabulary-sized: joined SHUFFLED on term
  // (same policy as d21 TF-IDF — never collected; AQE may broadcast a
  // small vocab on its own), total count rides as a 1-row broadcast.
  private val d26: (String, QFn, Option[String]) = ("d26_unigram_surprisal",
    (s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      val lm = toks.groupBy(col("term")).agg(count(lit(1)).as("tc"))
      val tot = lm.agg(sum(col("tc")).cast("double").as("_tot"))
      toks.join(lm, Seq("term"))
        .crossJoin(broadcast(tot))
        .withColumn("_nll", log2(col("_tot") / col("tc").cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(col("_nll")), 6).as("mean_surprisal"))
    },
    Some(s"""WITH t AS (SELECT doc_id, unnest($tokSql) AS term
      |  FROM documents),
      |lm AS (SELECT term, count(*) AS tc FROM t GROUP BY 1),
      |tot AS (SELECT sum(tc)::DOUBLE AS tt FROM lm)
      |SELECT doc_id, count(*) AS n_tokens,
      | round(avg(log2(tt / tc::DOUBLE)), 6) AS mean_surprisal
      |FROM t JOIN lm USING (term), tot
      |GROUP BY doc_id""".stripMargin))

  // --------------------------------------------- shingle containment
  // Asymmetric containment |A∩B|/|A| over the same posting-list join as
  // d05 — catches a short doc wholly quoted inside a longer one, which
  // symmetric Jaccard dilutes away. Integer intersection counts; the two
  // ratios are the only floats.
  private val d27: (String, QFn, Option[String]) = ("d27_containment",
    (s, d) => Dedup.containmentPairs(docs(s, d), "doc_id", "text", n = 3,
      threshold = 0.5, maxPostings = 50),
    Some(s"""WITH $shCte,
      |shc AS (SELECT sh.* FROM sh JOIN (SELECT s FROM sh GROUP BY s
      |  HAVING count(*) <= 50) ok ON sh.s = ok.s),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
      |inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
      |  FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b, round(i / sa.n_sh, 6) AS cont_a_in_b,
      | round(i / sb.n_sh, 6) AS cont_b_in_a
      |FROM inter JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
      |WHERE round(i / sa.n_sh, 6) >= 0.5
      |   OR round(i / sb.n_sh, 6) >= 0.5""".stripMargin))

  // --------------------------------------------- PMI collocations
  // Pointwise mutual information of adjacent token pairs vs their unigram
  // marginals — phrase mining over the corpus. Bigram/unigram count
  // tables are vocabulary-sized (shuffled joins on the word keys; totals
  // are 1-row broadcasts); the final ranking is a TakeOrdered top-200.
  private val d28: (String, QFn, Option[String]) = ("d28_pmi_collocations",
    (s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TextOps.tokens(col("text")).as("w"))
      val uni = toks.select(explode(col("w")).as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("cu"))
      val big = toks.select(explode(TextOps.shingles(col("w"), 2)).as("bg"))
        .groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      val totU = uni.agg(sum(col("cu")).cast("double").as("_tu"))
      val totB = big.agg(sum(col("cb")).cast("double").as("_tb"))
      val scored = big.filter(col("cb") >= 5)
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1))
        .join(uni.select(col("t").as("w1"), col("cu").as("c1")), Seq("w1"))
        .join(uni.select(col("t").as("w2"), col("cu").as("c2")), Seq("w2"))
        .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
        .withColumn("pmi", round(log2(
          (col("cb").cast("double") / col("_tb")) /
            ((col("c1").cast("double") / col("_tu")) *
              (col("c2").cast("double") / col("_tu")))), 6))
        .select(col("bg"), col("cb"), col("pmi"))
      Relevance.topKRanks(scored, "pmi", "bg", 200)
        .withColumn("rank", col("rank").cast("long"))
    },
    Some(s"""WITH t AS (SELECT doc_id, $tokSql AS w FROM documents),
      |uc AS (SELECT t, count(*) AS cu FROM (SELECT unnest(w) AS t FROM t)
      |  GROUP BY 1),
      |bc AS (SELECT bg, count(*) AS cb FROM (SELECT
      |    unnest(list_transform(range(1, greatest(len(w), 1)),
      |      i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS bg
      |  FROM t) GROUP BY 1),
      |tu AS (SELECT sum(cu)::DOUBLE AS tu FROM uc),
      |tb AS (SELECT sum(cb)::DOUBLE AS tb FROM bc),
      |p AS (SELECT bg, cb, round(log2((cb::DOUBLE / tb)
      |    / ((c1.cu::DOUBLE / tu) * (c2.cu::DOUBLE / tu))), 6) AS pmi
      |  FROM bc JOIN uc c1 ON string_split(bg, ' ')[1] = c1.t
      |    JOIN uc c2 ON string_split(bg, ' ')[2] = c2.t, tu, tb
      |  WHERE cb >= 5)
      |SELECT bg, cb, pmi,
      | row_number() OVER (ORDER BY pmi DESC, bg ASC) AS rank
      |FROM p ORDER BY pmi DESC, bg ASC LIMIT 200""".stripMargin))

  // --------------------------------------------- per-source KL drift
  // KL(source token distribution ‖ corpus distribution) in bits — the
  // domain-shift score deciding whether a source needs its own mixing
  // weight. Count tables are integer and vocabulary-sized; only the final
  // Σ p·log2(p/q) is float (round 6; accumulation noise ~1e-13).
  /** d29's (source, n_tokens, kl_bits) table as a factored function —
    * d86's DoReMi-style reweighting consumes the SAME computation its
    * own registered row verifies (the e22 factored-reuse move). */
  private[graft] def sourceKlDf(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d).select(col("source"),
      explode(TextOps.tokens(col("text"))).as("tk"))
    // every downstream count is derivable from the (source, token)
    // contingency — materialize it ONCE (vocabulary × sources rows, the
    // df-table idiom) instead of re-running the corpus tokenize+explode
    // per consumer: the lazy form executed that scan three times (sc,
    // cc, nc — measured 33.8 CPU-s / 23 jobs at sf0.1 for d86, 11.6
    // CPU-s after). cc2 = Σ_sources cs and nc = Σ cs are exact integer
    // identities, so every downstream double is bit-identical.
    val sc = Materialize(toks.groupBy(col("source"), col("tk"))
      .agg(count(lit(1)).as("cs")))
    val cc = sc.groupBy(col("tk")).agg(sum(col("cs")).as("cc2"))
    val ns = sc.groupBy(col("source")).agg(sum(col("cs")).as("ns"))
    val nc = sc.agg(sum(col("cs")).as("nc"))
    val ps = col("cs").cast("double") / col("ns").cast("double")
    val pc = col("cc2").cast("double") / col("nc").cast("double")
    sc.join(cc, Seq("tk")).join(ns, Seq("source"))
      .crossJoin(broadcast(nc))
      .groupBy(col("source"), col("ns"))
      .agg(CrossRound.roundNz(sum(ps * log2(ps / pc)), 6).as("kl_bits"))
      .select(col("source"), col("ns").as("n_tokens"), col("kl_bits"))
  }

  /** The DuckDB twin of [[sourceKlDf]], shared by d29 and d86. */
  private[graft] val sourceKlSql: String =
    s"""WITH t AS (SELECT source, unnest($tokSql) AS tk
      |  FROM documents),
      |sc AS (SELECT source, tk, count(*) AS cs FROM t GROUP BY 1, 2),
      |cc AS (SELECT tk, count(*) AS cc2 FROM t GROUP BY 1),
      |ns AS (SELECT source, sum(cs)::BIGINT AS ns FROM sc GROUP BY 1),
      |nc AS (SELECT count(*)::BIGINT AS nc FROM t)
      |SELECT source, ns AS n_tokens,
      | round(sum((cs::DOUBLE / ns::DOUBLE)
      |   * log2((cs::DOUBLE / ns::DOUBLE) / (cc2::DOUBLE / nc::DOUBLE))), 6)
      |   + 0.0 AS kl_bits
      |FROM sc JOIN cc USING (tk) JOIN ns USING (source), nc
      |GROUP BY source, ns""".stripMargin

  private val d29: (String, QFn, Option[String]) = ("d29_source_kl",
    (s, d) => sourceKlDf(s, d), Some(sourceKlSql))

  // --------------------------------------------- duplicated-span fraction
  // Per-doc fraction of n-gram OCCURRENCES whose n-gram appears in >= 2
  // distinct docs — the linear-cost proxy for suffix-array substring dedup
  // (Lee et al. 2022), used to cut boilerplate/mirror text. No pair join:
  // the only shuffles are the df table build and the occurrence probe.
  private val d30: (String, QFn, Option[String]) = ("d30_dup_spans",
    (s, d) => Dedup.dupSpans(docs(s, d), "doc_id", "text", n = 3)
      .withColumnRenamed("doc", "doc_id"),
    Some(s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |occ AS (SELECT doc_id,
      |  unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
      |    i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
      |  FROM toks),
      |dfq AS (SELECT s, count(*) AS df
      |  FROM (SELECT DISTINCT doc_id, s FROM occ) GROUP BY s),
      |per AS (SELECT doc_id, count(*) AS n_spans,
      |  sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS dup_spans
      |  FROM occ JOIN dfq USING (s) GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(n_spans, 0)::BIGINT AS n_spans,
      | COALESCE(dup_spans, 0)::BIGINT AS dup_spans,
      | round(COALESCE(dup_spans::DOUBLE / n_spans::DOUBLE, 0.0), 6)
      |   AS dup_frac
      |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin))

  // --------------------------------------- per-source quality calibration
  // percent_rank / cume_dist of the d03 quality score WITHIN each source —
  // cross-source score calibration (a 0.8 from a clean source and a 0.8
  // from a spam-heavy one are not comparable; mixing decisions want the
  // within-source quantile). Computed via RankStats: the window runs over
  // the distinct-(source, score) table, NOT per row — the shape that
  // survives a 10-source 100 TB corpus where a row-level window would fan
  // every row of a source into one task.
  private val d31: (String, QFn, Option[String]) = ("d31_quality_calibrate",
    (s, d) => {
      // groupPercentRank consumes its input twice (the distinct-value
      // counts and the final join-back) — lazily both re-ran the
      // tokenize + quality projection (15.9 CPU-s at sf0.1, 6.1 after).
      // Three narrow columns per doc, the d33 discipline.
      val scored = Materialize(docs(s, d).select(col("doc_id"),
        col("source"),
        TextOps.qualityCols(col("text"), TextOps.tokens(col("text"))).last))
      RankStats.groupPercentRank(scored, "source", "quality_score",
        "src_pct_rank", "src_cume_dist")
    },
    Some(s"""WITH q AS (SELECT doc_id, source, $qScoreSql AS quality_score
      |  FROM documents)
      |SELECT doc_id, source, quality_score,
      | round(percent_rank() OVER
      |   (PARTITION BY source ORDER BY quality_score), 6) AS src_pct_rank,
      | round(cume_dist() OVER
      |   (PARTITION BY source ORDER BY quality_score), 6) AS src_cume_dist
      |FROM q""".stripMargin))

  // --------------------------------------------- interpolated bigram LM
  // Per-doc mean negative log2 prob under a Jelinek-Mercer bigram LM
  // trained on the corpus itself: p(w2|w1) = 0.9·cb/cu(w1) + 0.1·cu(w2)/N.
  // The KenLM-perplexity quality filter's deterministic stand-in — extends
  // d26's unigram surprisal with first-order context. Count tables are
  // vocabulary-sized (shuffled joins on bigram/word keys); the corpus total
  // rides as a 1-row broadcast; never collected.
  /** d32's per-doc (doc_id, n_bigrams, mean_nll) as a factored function —
    * d92's CCNet-style bucketing consumes the SAME LM score its own
    * d32 row verifies (the d29/d86 move). */
  private[graft] def bigramNllDf(s: SparkSession, d: String): DataFrame = {
      val t = docs(s, d).select(col("doc_id"),
        TextOps.tokens(col("text")).as("w"))
      // occurrences feed the bigram count table AND the probe join —
      // materialize once (same policy as jaccardPairs)
      val occ = Materialize(t.select(col("doc_id"),
          explode(TextOps.shingles(col("w"), 2)).as("bg"))
        .withColumn("w1", split(col("bg"), " ").getItem(0))
        .withColumn("w2", split(col("bg"), " ").getItem(1)))
      val uni = t.select(explode(col("w")).as("t1"))
        .groupBy(col("t1")).agg(count(lit(1)).as("cu"))
      val tot = uni.agg(sum(col("cu")).cast("double").as("_tu"))
      val bc = occ.groupBy(col("bg")).agg(count(lit(1)).as("cb"))
      val nll = occ.join(bc, Seq("bg"))
        .join(uni.select(col("t1").as("w1"), col("cu").as("c1")), Seq("w1"))
        .join(uni.select(col("t1").as("w2"), col("cu").as("c2")), Seq("w2"))
        .crossJoin(broadcast(tot))
        .withColumn("_nll", log2(lit(1.0) /
          (lit(0.9) * (col("cb").cast("double") / col("c1").cast("double"))
            + lit(0.1) * (col("c2").cast("double") / col("_tu")))))
      val per = nll.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(col("_nll")), 6).as("mean_nll"))
      docs(s, d).select(col("doc_id"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
          coalesce(col("mean_nll"), lit(0.0)).as("mean_nll"))
  }

  /** The DuckDB twin of [[bigramNllDf]], shared by d32 and d92. */
  private[graft] val bigramNllSql: String =
    s"""WITH t AS (SELECT doc_id, $tokSql AS w FROM documents),
      |occ AS (SELECT doc_id,
      |  unnest(list_transform(range(1, greatest(len(w), 1)),
      |    i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS bg
      |  FROM t),
      |o2 AS (SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1,
      |  string_split(bg, ' ')[2] AS w2 FROM occ),
      |uc AS (SELECT t1, count(*) AS cu
      |  FROM (SELECT unnest(w) AS t1 FROM t) GROUP BY 1),
      |bc AS (SELECT bg, count(*) AS cb FROM occ GROUP BY 1),
      |tu AS (SELECT sum(cu)::DOUBLE AS tu FROM uc),
      |p AS (SELECT doc_id, log2(1.0 /
      |    (0.9 * (cb::DOUBLE / c1.cu::DOUBLE)
      |      + 0.1 * (c2.cu::DOUBLE / tu))) AS nll
      |  FROM o2 JOIN bc USING (bg)
      |    JOIN uc c1 ON o2.w1 = c1.t1
      |    JOIN uc c2 ON o2.w2 = c2.t1, tu),
      |per AS (SELECT doc_id, count(*) AS n_bigrams,
      |  round(avg(nll), 6) AS mean_nll FROM p GROUP BY 1)
      |SELECT d.doc_id, COALESCE(n_bigrams, 0)::BIGINT AS n_bigrams,
      | COALESCE(mean_nll, 0.0) AS mean_nll
      |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin

  private val d32: (String, QFn, Option[String]) = ("d32_bigram_lm",
    (s, d) => bigramNllDf(s, d), Some(bigramNllSql))

  // --------------------------- CCNet perplexity bucketing (d92)
  // The step CCNet (Wenzek et al. 2020) runs on top of the LM score:
  // split each source's documents into head/middle/tail TERCILES of
  // model surprisal — head feeds the clean corpus, tail gets dropped,
  // middle is the judgement call. Consumes d32's FACTORED per-doc
  // mean_nll; terciles come from a per-source HISTOGRAM on a 0.01-bit
  // grid (the d87 move — far finer than the head/tail decision needs),
  // so the cut is integer-exact cumulative counting, never an
  // interpolated percentile and never a per-source global sort: one
  // corpus aggregation to (source × grid) rows, two windows over THAT,
  // and the sources×2 threshold table broadcasts back. Ties at a cut
  // land on the lower bucket together — deterministic by construction.
  private val d92: (String, QFn, Option[String]) = ("d92_ppl_buckets",
    (s, d) => {
      // src feeds the tercile histogram AND the final projection —
      // materialize once (the jaccardPairs policy) so the bigram-LM
      // count joins behind bigramNllDf run a single time
      val src = Materialize(bigramNllDf(s, d)
        .join(docs(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id")))
      val g = floor(col("mean_nll") * 100).cast("long")
      val hg = src.groupBy(col("source"), g.as("g"))
        .agg(count(lit(1)).as("c"))
      val wOrd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("g"))
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
      val th = hg.withColumn("cum", sum(col("c")).over(wOrd))
        .withColumn("n", sum(col("c")).over(wAll))
        .groupBy(col("source"))
        .agg(min(when(col("cum") * 3 >= col("n"), col("g")))
            .as("head_cut_cb"),
          min(when(col("cum") * 3 >= col("n") * 2, col("g")))
            .as("middle_cut_cb"))
      src.join(broadcast(th), Seq("source"))
        .select(col("doc_id"), col("source"), col("n_bigrams"),
          col("mean_nll"), col("head_cut_cb"), col("middle_cut_cb"),
          when(g <= col("head_cut_cb"), "head")
            .when(g <= col("middle_cut_cb"), "middle")
            .otherwise("tail").as("ppl_bucket"))
    },
    Some(s"""WITH nl AS ($bigramNllSql),
      |src AS (SELECT n.doc_id, d.source, n.n_bigrams, n.mean_nll
      |  FROM nl n JOIN documents d USING (doc_id)),
      |hg AS (SELECT source, floor(mean_nll * 100)::BIGINT AS g,
      |    count(*)::BIGINT AS c
      |  FROM src GROUP BY 1, 2),
      |cm AS (SELECT source, g,
      |    sum(c) OVER (PARTITION BY source ORDER BY g)::BIGINT AS cum,
      |    sum(c) OVER (PARTITION BY source)::BIGINT AS n
      |  FROM hg),
      |th AS (SELECT source,
      |    min(CASE WHEN cum * 3 >= n THEN g END)::BIGINT AS head_cut_cb,
      |    min(CASE WHEN cum * 3 >= n * 2 THEN g END)::BIGINT
      |      AS middle_cut_cb
      |  FROM cm GROUP BY 1)
      |SELECT s.doc_id, s.source, s.n_bigrams, s.mean_nll,
      |  th.head_cut_cb, th.middle_cut_cb,
      |  CASE WHEN floor(s.mean_nll * 100) <= th.head_cut_cb THEN 'head'
      |    WHEN floor(s.mean_nll * 100) <= th.middle_cut_cb THEN 'middle'
      |    ELSE 'tail' END AS ppl_bucket
      |FROM src s JOIN th USING (source)""".stripMargin))

  // --------------------------------------------- curriculum ordering
  // Global training order: rank every doc by quality (desc, doc_id ties)
  // and cut the corpus into 4 curriculum phases. The global row_number is
  // computed via RankStats.globalOrderIndex — cumulative counts over the
  // DISTINCT-score grid plus a within-tie window — never a whole-corpus
  // single-task sort. Driver-checked equal to the naive SQL window.
  private val d33: (String, QFn, Option[String]) = ("d33_curriculum_order",
    (s, d) => {
      // the scored table feeds globalOrderIndex TWICE (distinct-score
      // counts + the tie window) plus the total — lazily each consumer
      // re-ran the tokenize + quality projection over the corpus
      // (18.0 CPU-s at sf0.1, 8.4 after). Two narrow columns per doc.
      val scored = Materialize(docs(s, d).select(col("doc_id"),
        TextOps.qualityCols(col("text"), TextOps.tokens(col("text"))).last))
      val ranked = RankStats.globalOrderIndex(scored, "quality_score",
        "doc_id", "global_rank")
      val tot = scored.agg(count(lit(1)).as("_n"))
      ranked.crossJoin(broadcast(tot))
        .select(col("doc_id"), col("quality_score"), col("global_rank"),
          floor((col("global_rank") - 1) * 4 / col("_n")).cast("long")
            .as("phase"))
    },
    Some(s"""WITH q AS (SELECT doc_id, $qScoreSql AS quality_score
      |  FROM documents),
      |n AS (SELECT count(*)::BIGINT AS n FROM q),
      |r AS (SELECT doc_id, quality_score, row_number() OVER
      |  (ORDER BY quality_score DESC, doc_id) AS global_rank FROM q)
      |SELECT doc_id, quality_score, global_rank,
      | ((global_rank - 1) * 4) // n AS phase FROM r, n""".stripMargin))

  // ----------------------------------------- canonical doc per cluster
  // The dedup DECISION step: d10's connected components + d03's quality
  // score → one keeper per near-dup cluster (highest quality, lowest
  // doc_id on ties). Spark side selects keepers with a single max(struct)
  // aggregation — order-independent, no per-cluster window; the oracle
  // re-derives clusters with d10's recursive CTE and picks by window.
  private val d34: (String, QFn, Option[String]) = ("d34_cluster_keeper",
    (s, d) => {
      val cl = Dedup.dedupCorpus(docs(s, d), "doc_id", "text", n = 3,
        k = MINHASH_K, bands = MINHASH_BANDS, minEstJaccard = 0.5)
      val q = docs(s, d).select(col("doc_id").as("doc"),
        TextOps.qualityCols(col("text"), TextOps.tokens(col("text"))).last)
      cl.join(q, Seq("doc"))
        .groupBy(col("keep_id").as("cluster"))
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("quality_score"), (-col("doc")).as("negdoc")))
            .as("m"))
        .select(col("cluster"), col("n_docs"),
          (-col("m.negdoc")).as("keeper_id"),
          col("m.quality_score").as("keeper_quality"))
    },
    Some(s"""WITH RECURSIVE $shCte,
      |mh AS (SELECT doc_id, j,
      |    min(${md5HashSql("s || '#' || j")}) AS sig
      |  FROM sh, (SELECT unnest(range(0, $MINHASH_K)) AS j) js
      |  GROUP BY doc_id, j),
      |bk AS (SELECT doc_id, j // ${MINHASH_K / MINHASH_BANDS} AS band,
      |    md5(string_agg(sig::VARCHAR, ',' ORDER BY j)) AS bkey
      |  FROM mh GROUP BY doc_id, band),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
      |   AND x.doc_id < y.doc_id),
      |near AS (SELECT a, b FROM (
      |  SELECT c.a, c.b,
      |   round(sum(CASE WHEN ma.sig = mb.sig THEN 1 ELSE 0 END)
      |     / ${MINHASH_K.toDouble}, 6) AS ej
      |  FROM cand c JOIN mh ma ON ma.doc_id = c.a
      |   JOIN mh mb ON mb.doc_id = c.b AND mb.j = ma.j
      |  GROUP BY c.a, c.b) WHERE ej >= 0.5),
      |exg AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id
      |  FROM documents GROUP BY 1),
      |exp AS (SELECT d.doc_id AS doc, g.keep_id AS peer FROM documents d
      |  JOIN exg g ON md5(d.text) = g.fp WHERE d.doc_id <> g.keep_id),
      |edges AS (SELECT doc, peer FROM exp
      |  UNION SELECT peer, doc FROM exp
      |  UNION SELECT a, b FROM near
      |  UNION SELECT b, a FROM near),
      |cc(doc, label) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.doc, c.label FROM edges e JOIN cc c ON c.doc = e.peer),
      |cl AS (SELECT doc, min(label) AS cluster FROM cc GROUP BY doc),
      |qv AS (SELECT doc_id, $qScoreSql AS q FROM documents),
      |rk AS (SELECT cluster, doc, q,
      |  row_number() OVER (PARTITION BY cluster
      |    ORDER BY q DESC, doc ASC) AS rn,
      |  count(*) OVER (PARTITION BY cluster) AS n_docs
      |  FROM cl JOIN qv ON doc = doc_id)
      |SELECT cluster, n_docs::BIGINT AS n_docs, doc AS keeper_id,
      | q AS keeper_quality FROM rk WHERE rn = 1""".stripMargin))

  // ----------------------------------------- edit-distance verification
  // The standard two-stage near-dup pipeline made explicit: cheap LSH
  // candidates (d06's band join) -> EXPENSIVE exact verification, here
  // Levenshtein distance + normalized similarity on the candidate pairs
  // only. At 100 TB the O(len^2) edit distance is affordable precisely
  // because it runs on the candidate set (thousands of pairs), never the
  // corpus cross-product; both engines' levenshtein are exact integers.
  private val d35: (String, QFn, Option[String]) = ("d35_edit_verify",
    (s, d) => {
      val t = docs(s, d)
      val cand = Dedup.minhashLsh(t, "doc_id", "text", n = 3,
        k = MINHASH_K, bands = MINHASH_BANDS).select(col("a"), col("b"))
      val ta = t.select(col("doc_id").as("a"), col("text").as("_ta"))
      val tb = t.select(col("doc_id").as("b"), col("text").as("_tb"))
      cand.join(ta, Seq("a")).join(tb, Seq("b"))
        .withColumn("lev",
          levenshtein(col("_ta"), col("_tb")).cast("long"))
        .withColumn("nsim", round(lit(1.0) - col("lev").cast("double")
          / greatest(length(col("_ta")), length(col("_tb")))
            .cast("double"), 6))
        .select(col("a"), col("b"), col("lev"), col("nsim"),
          (col("nsim") >= 0.8).cast("long").as("verified"))
    },
    Some(s"""WITH $shCte,
      |mh AS (SELECT doc_id, j,
      |    min(${md5HashSql("s || '#' || j")}) AS sig
      |  FROM sh, (SELECT unnest(range(0, $MINHASH_K)) AS j) js
      |  GROUP BY doc_id, j),
      |bk AS (SELECT doc_id, j // ${MINHASH_K / MINHASH_BANDS} AS band,
      |    md5(string_agg(sig::VARCHAR, ',' ORDER BY j)) AS bkey
      |  FROM mh GROUP BY doc_id, band),
      |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |  FROM bk x JOIN bk y ON x.band = y.band AND x.bkey = y.bkey
      |   AND x.doc_id < y.doc_id),
      |v AS (SELECT a, b,
      |  levenshtein(da.text, db.text)::BIGINT AS lev,
      |  round(1.0 - levenshtein(da.text, db.text)::DOUBLE
      |    / greatest(length(da.text), length(db.text))::DOUBLE, 6) AS nsim
      |  FROM cand JOIN documents da ON da.doc_id = a
      |   JOIN documents db ON db.doc_id = b)
      |SELECT a, b, lev, nsim,
      | (CASE WHEN nsim >= 0.8 THEN 1 ELSE 0 END)::BIGINT AS verified
      |FROM v""".stripMargin))

  // ----------------------------------------- Count-Min heavy hitters
  // CMS counters (4×64, md5 hash family) over the token stream, queried
  // back for every vocabulary term with the exact count alongside —
  // est >= exact by construction (PropertiesSpec asserts; the driver
  // hash-checks the full error audit). The counter table is 256 rows no
  // matter the corpus size and merges across shards by addition — the
  // bounded-state frequency path next to KMV (d19) and the histogram
  // sketch (q44).
  private val d36: (String, QFn, Option[String]) = ("d36_count_min",
    (s, d) => {
      val toks = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
      Sketches.countMin(toks, col("term"), depth = 4, width = 64)
        .select(col("val").as("term"), col("n_exact"), col("est"),
          col("overcount"))
    },
    Some(s"""WITH t AS (SELECT unnest($tokSql) AS term FROM documents),
      |js AS (SELECT unnest(range(0, 4)) AS j),
      |cnt AS (SELECT j,
      |   ${md5HashSql("term || '#' || 'cms' || j")} % 64 AS b,
      |   count(*) AS cnt
      |  FROM t, js GROUP BY 1, 2),
      |ex AS (SELECT term, count(*) AS n_exact FROM t GROUP BY 1),
      |pr AS (SELECT term, n_exact, j,
      |   ${md5HashSql("term || '#' || 'cms' || j")} % 64 AS b
      |  FROM ex, js)
      |SELECT term, n_exact, min(cnt) AS est,
      | min(cnt) - n_exact AS overcount
      |FROM pr JOIN cnt USING (j, b) GROUP BY term, n_exact"""
      .stripMargin))

  // ----------------------------------------- token-stream sequence carve
  // GPT-style packing: concatenate the corpus into one virtual token
  // stream (doc_id order) and carve fixed 512-token training sequences —
  // each doc reports its cumulative offset and which sequences it spans.
  // The global running sum uses Sequences.globalCumsum (range partitions +
  // per-partition window + broadcast prefix offsets), NOT a single-task
  // `ORDER BY` window; the oracle is the naive global window, which must
  // match exactly since token counts are integers.
  private val d37: (String, QFn, Option[String]) = ("d37_token_stream_pack",
    (s, d) => {
      val t = docs(s, d).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      Sequences.globalCumsum(t, "doc_id", col("n_tokens"), "cum_tokens")
        .withColumn("seq_first",
          floor((col("cum_tokens") - col("n_tokens")) / 512).cast("long"))
        .withColumn("seq_last",
          floor((col("cum_tokens") - 1) / 512).cast("long"))
        .withColumn("n_seqs", greatest(lit(0L),
          col("seq_last") - col("seq_first") + 1))
    },
    Some(s"""WITH t AS (SELECT doc_id, len($tokSql)::BIGINT AS n_tokens
      |  FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  (sum(n_tokens) OVER (ORDER BY doc_id
      |    ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens FROM t)
      |SELECT doc_id, n_tokens, cum_tokens,
      | ((cum_tokens - n_tokens) // 512)::BIGINT AS seq_first,
      | ((cum_tokens - 1) // 512)::BIGINT AS seq_last,
      | greatest(0, (cum_tokens - 1) // 512
      |   - (cum_tokens - n_tokens) // 512 + 1)::BIGINT AS n_seqs
      |FROM c""".stripMargin))

  // ----------------------------------------------- corpus data card
  // The per-source report a dataset release ships with: volume (docs,
  // tokens), corpus-wide exact-duplicate share, mean quality, and language
  // spread — one grouped pass over per-doc projections plus the
  // fingerprint-count join (dup status is CORPUS-wide, so a mirror source
  // shows up even when its docs are unique within itself). Every column
  // integer or round-6; the whole card is one shuffle on source plus the
  // vocabulary-sized fp join.
  private val d38: (String, QFn, Option[String]) = ("d38_corpus_report",
    (s, d) => {
      val toks = TextOps.tokens(col("text"))
      val t = docs(s, d).select(col("doc_id"), col("source"),
        md5(col("text")).as("fp"), size(toks).cast("long").as("nt"),
        TextOps.qualityCols(col("text"), toks).last,
        TextOps.langId(toks).as("lang_pred"))
      val fpc = t.groupBy(col("fp")).agg(count(lit(1)).as("c"))
      t.join(fpc, Seq("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nt")).as("n_tokens"),
          round(avg(col("quality_score")), 6).as("mean_quality"),
          countDistinct(col("lang_pred")).as("n_langs"),
          round(sum(when(col("c") > 1, 1L).otherwise(0L)).cast("double")
            / count(lit(1)).cast("double"), 6).as("dup_frac"))
    },
    Some(s"""WITH sc AS (SELECT doc_id, source, md5(text) AS fp,
      |  len($tokSql)::BIGINT AS nt, $qScoreSql AS q, $langScoreDefsSql
      |  FROM documents),
      |t AS (SELECT doc_id, source, fp, nt, q,
      |  $langCaseSql AS lang_pred FROM sc),
      |fpc AS (SELECT fp, count(*) AS c FROM t GROUP BY 1)
      |SELECT source, count(*)::BIGINT AS n_docs,
      | sum(nt)::BIGINT AS n_tokens,
      | round(avg(q), 6) AS mean_quality,
      | count(DISTINCT lang_pred)::BIGINT AS n_langs,
      | round(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END)::DOUBLE
      |   / count(*)::DOUBLE, 6) AS dup_frac
      |FROM t JOIN fpc USING (fp) GROUP BY source""".stripMargin))

  // ------------------------------------------------- Zipf rank-frequency
  // Least-squares fit of log2(freq) on log2(rank) over the top-500 terms —
  // the classic corpus sanity check (natural language ≈ slope −1; far off
  // → boilerplate or synthetic text). The fit runs over ONE 500-row
  // top-k (TakeOrdered), then a single 1-row aggregate of the power sums;
  // slope/intercept/R² use the textbook closed forms with the SAME
  // parenthesization in both engines.
  private val d40: (String, QFn, Option[String]) = ("d40_zipf_fit",
    (s, d) => {
      val counts = docs(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      val ranked = Relevance.topKRanks(counts, "cnt", "term", 500)
      val pts = ranked.select(
        log2(col("rank").cast("double")).as("x"),
        log2(col("cnt").cast("double")).as("y"))
      val agg = pts.agg(count(lit(1)).cast("double").as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      agg.select(col("n").cast("long").as("n_terms"),
        round(slope, 6).as("zipf_slope"),
        round((col("sy") - slope * col("sx")) / col("n"), 6)
          .as("zipf_intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy"))
          * (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx"))
            * (col("n") * col("syy") - col("sy") * col("sy"))), 6)
          .as("r2"))
    },
    Some(s"""WITH t AS (SELECT unnest($tokSql) AS term FROM documents),
      |c AS (SELECT term, count(*) AS cnt FROM t GROUP BY 1),
      |r AS (SELECT term, cnt, row_number() OVER
      |  (ORDER BY cnt DESC, term) AS rank
      |  FROM c ORDER BY cnt DESC, term LIMIT 500),
      |p AS (SELECT log2(rank::DOUBLE) AS x, log2(cnt::DOUBLE) AS y
      |  FROM r),
      |s AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
      |  sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM p)
      |SELECT n::BIGINT AS n_terms,
      | round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
      | round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
      |   6) AS zipf_intercept,
      | round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |   ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
      |FROM s""".stripMargin))

  // ----------------------------------------- cross-source overlap matrix
  // Shingle containment at SOURCE granularity — the mirror detector ("is
  // source B mostly a copy of source A?"). Collapsing (doc, shingle) to
  // DISTINCT (source, shingle) first bounds every posting list at the
  // number of sources, so the pair join is |vocab| × sources², never
  // doc-quadratic — the aggregation-level analog of d27's df-cutoff.
  private val d39: (String, QFn, Option[String]) = ("d39_source_overlap",
    (s, d) => {
      val ss = Materialize(docs(s, d).select(col("source"),
          explode(array_distinct(
            TextOps.shingles(TextOps.tokens(col("text")), 3))).as("sh"))
        .distinct())
      val sz = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
      val inter = ss.select(col("source").as("sa"), col("sh"))
        .join(ss.select(col("source").as("sb"), col("sh")), Seq("sh"))
        .filter(col("sa") < col("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("inter"))
      inter
        .join(sz.select(col("source").as("sa"), col("n_sh").as("na")),
          Seq("sa"))
        .join(sz.select(col("source").as("sb"), col("n_sh").as("nb")),
          Seq("sb"))
        .select(col("sa"), col("sb"), col("inter"),
          round(col("inter").cast("double") / col("na").cast("double"), 6)
            .as("cont_a_in_b"),
          round(col("inter").cast("double") / col("nb").cast("double"), 6)
            .as("cont_b_in_a"))
    },
    Some(s"""WITH toks AS (SELECT source, $tokSql AS w FROM documents),
      |ss AS (SELECT DISTINCT source, s FROM (SELECT source,
      |  unnest(list_transform(range(1, greatest(len(w) - 1, 1)),
      |    i -> array_to_string(list_slice(w, i, i + 2), ' '))) AS s
      |  FROM toks)),
      |sz AS (SELECT source, count(*) AS n_sh FROM ss GROUP BY 1),
      |i AS (SELECT a.source AS sa, b.source AS sb, count(*) AS inter
      |  FROM ss a JOIN ss b ON a.s = b.s AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT sa, sb, inter,
      | round(inter::DOUBLE / za.n_sh::DOUBLE, 6) AS cont_a_in_b,
      | round(inter::DOUBLE / zb.n_sh::DOUBLE, 6) AS cont_b_in_a
      |FROM i JOIN sz za ON za.source = sa
      | JOIN sz zb ON zb.source = sb""".stripMargin))

  // ------------------------------------ Heaps'-law vocab growth (d98)
  // The type-token growth diagnostic beside d33's Zipf fit: per source,
  // vocabulary size V at 8 evenly-spaced token checkpoints of the
  // deterministic doc_id-ordered token stream, and the Heaps exponent β
  // from the log-log OLS fit V ≈ k·Cᵝ (Heaps 1978; β≪ typical ~0.5 =
  // repetitive/templated source, β→1 = open vocabulary — the readout a
  // tokenizer-budget or dedup review reads per source).
  //
  // Determinism: first-occurrence positions are exact BIGINTs (per-
  // source cumsum offsets, the d74 window), checkpoints are integer
  // floor-divisions, V is an exact count; ln() rounds at 8 dp (the d69
  // libm policy) and the OLS sums run through DECIMAL(20,10) — order-
  // independent at any parallelism; β and ln k are single IEEE
  // expressions over those sums rounded once.
  //
  // Scale shape: one token explode → ONE (source, token) aggregation
  // (the d54 inverted-index exchange) for first positions, a per-source
  // doc-count window for offsets, then everything runs on |types|
  // joined against a broadcast 8-row-per-source checkpoint table. The
  // per-source token ORDER is the only corpus-global notion, and it
  // derives from the (source, doc_id) sort key — no global sort is ever
  // executed, just window cumsums per source.
  private val d98: (String, QFn, Option[String]) = ("d98_heaps_law",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // Two branches consume the tokenized frame (first-position window
      // AND per-source totals), so the corpus tokenizes twice — a
      // localCheckpoint was MEASURED NET-NEGATIVE here (isolated: sf0.1
      // 0.71s -> 0.85s, sf1 1.20s -> 1.48s; the totals branch prunes to
      // a count-only scan that is cheaper than materializing the
      // exploded-width frame). The r12 rule: profile before checkpoint.
      val base = docs(s, d)
        .select(col("doc_id"), col("source"),
          TextOps.tokens(col("text")).as("_w"))
        .withColumn("_nt", size(col("_w")).cast("long"))
        .filter(col("_nt") > 0)
      val wOff = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val withOff = base.withColumn("_off",
        coalesce(sum(col("_nt")).over(wOff), lit(0L)))
      val fp = withOff
        .select(col("source"), col("_off"), posexplode(col("_w")))
        .select(col("source"), col("col").as("_tok"),
          (col("_off") + col("pos") + lit(1L)).as("_gpos"))
        .groupBy(col("source"), col("_tok"))
        .agg(min(col("_gpos")).as("_fp"))
      val ck = base.groupBy(col("source")).agg(sum(col("_nt")).as("_total"))
        .filter(col("_total") >= 8L)
        .select(col("source").as("_csrc"), col("_total"),
          explode(sequence(lit(1L), lit(8L))).as("i"))
        .withColumn("c_tokens", expr("_total * i div 8"))
      val v = fp.join(broadcast(ck),
          fp("source") === ck("_csrc") && col("_fp") <= col("c_tokens"))
        .groupBy(col("_csrc").as("source"), col("i"), col("c_tokens"))
        .agg(count(lit(1)).as("v_types"))
      val wS = Window.partitionBy(col("source"))
      def dsum(c: Column) =
        sum(c.cast("decimal(20,10)")).over(wS).cast("double")
      val xy = v
        .withColumn("x", round(log(col("c_tokens").cast("double")), 8))
        .withColumn("y", round(log(col("v_types").cast("double")), 8))
      val sm = xy
        .withColumn("_sx", dsum(col("x")))
        .withColumn("_sy", dsum(col("y")))
        .withColumn("_sxy", dsum(col("x") * col("y")))
        .withColumn("_sxx", dsum(col("x") * col("x")))
        .withColumn("beta", CrossRound.roundNz(
          (lit(8.0) * col("_sxy") - col("_sx") * col("_sy"))
            / (lit(8.0) * col("_sxx") - col("_sx") * col("_sx")), 6))
      sm.select(col("source"), col("i"), col("c_tokens"), col("v_types"),
        col("x"), col("y"), col("beta"),
        CrossRound.roundNz(
          (col("_sy") - col("beta") * col("_sx")) / lit(8.0), 6)
          .as("lnk"))
    },
    Some(s"""WITH tk AS (SELECT doc_id, source, $tokSql AS w
      |  FROM documents WHERE len($tokSql) > 0),
      |off AS (SELECT doc_id, source, len(w)::BIGINT AS nt, w,
      |    coalesce(sum(len(w)) OVER (PARTITION BY source ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      |      AS off
      |  FROM tk),
      |fp AS (SELECT source, t AS tok, min(off + i)::BIGINT AS fp FROM (
      |    SELECT source, off, unnest(w) AS t,
      |      unnest(range(1, len(w) + 1)) AS i FROM off)
      |  GROUP BY 1, 2),
      |tt AS (SELECT source, sum(nt)::BIGINT AS total FROM off
      |  GROUP BY 1 HAVING sum(nt) >= 8),
      |ck AS (SELECT source, i, ((total * i) // 8)::BIGINT AS c_tokens
      |  FROM (SELECT source, total, unnest(range(1, 9))::BIGINT AS i
      |    FROM tt)),
      |v AS (SELECT ck.source, ck.i, ck.c_tokens, count(*)::BIGINT
      |    AS v_types
      |  FROM fp JOIN ck ON fp.source = ck.source
      |    AND fp.fp <= ck.c_tokens
      |  GROUP BY 1, 2, 3),
      |xy AS (SELECT source, i, c_tokens, v_types,
      |    round(ln(c_tokens::DOUBLE), 8) AS x,
      |    round(ln(v_types::DOUBLE), 8) AS y FROM v),
      |sm AS (SELECT source, i, c_tokens, v_types, x, y,
      |    CAST(sum(CAST(x AS DECIMAL(20,10))) OVER ws AS DOUBLE) AS sx,
      |    CAST(sum(CAST(y AS DECIMAL(20,10))) OVER ws AS DOUBLE) AS sy,
      |    CAST(sum(CAST(x * y AS DECIMAL(20,10))) OVER ws AS DOUBLE)
      |      AS sxy,
      |    CAST(sum(CAST(x * x AS DECIMAL(20,10))) OVER ws AS DOUBLE)
      |      AS sxx
      |  FROM xy WINDOW ws AS (PARTITION BY source)),
      |f1 AS (SELECT *, round((8.0 * sxy - sx * sy)
      |    / (8.0 * sxx - sx * sx), 6) + 0.0 AS beta FROM sm)
      |SELECT source, i, c_tokens, v_types, x, y, beta,
      |  round((sy - beta * sx) / 8.0, 6) + 0.0 AS lnk
      |FROM f1""".stripMargin))

  // ---------------------------------- maximal duplicated spans (d102)
  // Exact-substring dedup, completion pass (Lee et al. 2022): d30 scores
  // window-repeat coverage, d53 excises keeping one canonical copy; d102
  // detects the MAXIMAL repeated regions (islands merge of the repeated
  // suffix-window cover — a 30-token repeat is ONE span of 30, not 23
  // overlapping windows) and cuts EVERY occurrence, the
  // decontamination-grade variant. Survivors carry a '|' junction marker
  // so the cleaned text never fabricates adjacencies; PropertiesSpec
  // proves the excised corpus contains no repeated window at all. k = 8
  // sized to this corpus's 56-token average (production uses 50 on
  // document-scale text; the operator is k-agnostic). Linear: one
  // window-key shuffle for occ counts, doc-key islands/rebuild windows.
  private val d102: (String, QFn, Option[String]) = ("d102_max_dup_spans",
    (s, d) => Dedup.maxDupSpans(docs(s, d), "doc_id", "text", k = 8)
      .select(col("doc").as("doc_id"), col("n_tokens"),
        col("n_dup_windows"), col("n_spans"), col("max_span_tokens"),
        col("n_excised"), md5(col("clean_text")).as("clean_fp")),
    Some(s"""WITH toks AS (SELECT doc_id, $tokSql AS w FROM documents),
      |wins AS (SELECT doc_id, i - 1 AS spos,
      |    array_to_string(list_slice(w, i, i + 7), ' ') AS g
      |  FROM (SELECT doc_id, w,
      |      unnest(range(1, greatest(len(w) - 6, 1))) AS i FROM toks)),
      |dg AS (SELECT g FROM wins GROUP BY g HAVING count(*) >= 2),
      |dup AS (SELECT doc_id, spos FROM wins JOIN dg USING (g)),
      |cov AS (SELECT DISTINCT doc_id, spos + j AS pos
      |  FROM dup, range(8) t(j)),
      |isl AS (SELECT doc_id, pos, pos - row_number() OVER (
      |    PARTITION BY doc_id ORDER BY pos) AS grp FROM cov),
      |sp AS (SELECT doc_id, count(*) AS len FROM isl
      |  GROUP BY doc_id, grp),
      |ss AS (SELECT doc_id, count(*)::BIGINT AS n_spans,
      |    max(len)::BIGINT AS max_span_tokens,
      |    sum(len)::BIGINT AS n_excised FROM sp GROUP BY doc_id),
      |dw AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows
      |  FROM dup GROUP BY doc_id),
      |tp AS (SELECT doc_id, unnest(range(len(w))) AS pos,
      |    unnest(w) AS t FROM toks),
      |sv AS (SELECT tp.doc_id, tp.pos, tp.t FROM tp
      |  LEFT JOIN cov ON tp.doc_id = cov.doc_id AND tp.pos = cov.pos
      |  WHERE cov.pos IS NULL),
      |sb AS (SELECT sv.doc_id, sv.pos,
      |    CASE WHEN c2.pos IS NOT NULL THEN '|' || sv.t ELSE sv.t END
      |      AS t2
      |  FROM sv LEFT JOIN cov c2 ON sv.doc_id = c2.doc_id
      |    AND sv.pos - 1 = c2.pos),
      |cl AS (SELECT doc_id, string_agg(t2, ' ' ORDER BY pos) AS txt
      |  FROM sb GROUP BY doc_id)
      |SELECT t.doc_id, len(w)::BIGINT AS n_tokens,
      | coalesce(n_dup_windows, 0)::BIGINT AS n_dup_windows,
      | coalesce(n_spans, 0)::BIGINT AS n_spans,
      | coalesce(max_span_tokens, 0)::BIGINT AS max_span_tokens,
      | coalesce(n_excised, 0)::BIGINT AS n_excised,
      | md5(coalesce(txt, '')) AS clean_fp
      |FROM toks t LEFT JOIN dw USING (doc_id)
      |LEFT JOIN ss USING (doc_id) LEFT JOIN cl USING (doc_id)"""
      .stripMargin))

  // ---------------------------------------------- quantile sketch audit
  // The fourth classic sketch beside KMV (d19), HLL (d43), CMS (d36):
  // per-group p50/p90 from 64 content-addressed bootstrap draws
  // (Sketches.slotSampleQuantiles — the q91 slot idiom: one group-keyed
  // aggregate of 64 min(struct) partials, state 64 structs per group
  // regardless of row count, no window over raw rows), audited against
  // the exact interpolated quantile (the d19/q76 with-exact pattern —
  // production drops the exact side). Unlike GK/KLL, whose compaction is
  // merge-order-dependent, every draw here is replayable: the oracle
  // re-derives each slot's argmin and affords the sorted-list lerp on
  // both the 64-sample and the full column. err is signed -> roundNz.
  private val d103: (String, QFn, Option[String]) = ("d103_quantile_sketch",
    (s, d) => {
      val evs = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"), col("value"))
      val est = Sketches.slotSampleQuantiles(evs, col("event_type"),
        col("event_id"), col("value"), Seq(0.5, 0.9), k = 64, salt = "qs")
      val exact = Quantiles.exactGroupQuantiles(evs, col("event_type"),
          col("value"), Seq(0.5, 0.9))
        .select(col("grp"), col("frac"), col("q").as("_ex"))
      est.join(exact, Seq("grp", "frac"))
        .withColumn("_er", round(col("est_q"), 6))
        .withColumn("_xr", round(col("_ex"), 6))
        .select(col("grp").as("event_type"), col("frac"), col("n_rows"),
          col("_er").as("est_q"), col("_xr").as("exact_q"),
          CrossRound.roundNz(col("_er") - col("_xr"), 6).as("err"))
    },
    Some {
      def interp(arr: String, cnt: String) =
        Queries.interpSql("q.frac", arr, cnt)
      s"""WITH base AS (SELECT event_type, event_id, value FROM events
        |  WHERE value IS NOT NULL),
        |n AS (SELECT event_type, count(*)::BIGINT AS n_rows FROM base
        |  GROUP BY 1),
        |sl AS (SELECT unnest(range(0, 64))::BIGINT AS slot),
        |h AS (SELECT b.event_type, s.slot, b.value,
        |    ${QueriesText.md5HashSql(
                "b.event_id::VARCHAR || '#qs' || s.slot::VARCHAR")} AS hv,
        |    b.event_id::VARCHAR AS k
        |  FROM base b CROSS JOIN sl s),
        |w AS (SELECT event_type, slot, value, row_number() OVER (
        |    PARTITION BY event_type, slot ORDER BY hv, k) AS rn FROM h),
        |g AS (SELECT event_type, count(*) AS cnt,
        |    list_sort(list(value)) AS arr FROM w WHERE rn = 1 GROUP BY 1),
        |ex AS (SELECT event_type, count(*) AS cnt,
        |    list_sort(list(value)) AS arr FROM base GROUP BY 1),
        |q AS (SELECT unnest([0.5, 0.9]::DOUBLE[]) AS frac),
        |est AS (SELECT g.event_type, q.frac,
        |    ${interp("g.arr", "g.cnt")} AS ev FROM g CROSS JOIN q),
        |exq AS (SELECT ex.event_type, q.frac,
        |    ${interp("ex.arr", "ex.cnt")} AS xv FROM ex CROSS JOIN q)
        |SELECT e.event_type, e.frac, n.n_rows,
        | round(e.ev, 6) AS est_q, round(x.xv, 6) AS exact_q,
        | round(round(e.ev, 6) - round(x.xv, 6), 6) + 0.0 AS err
        |FROM est e JOIN exq x USING (event_type, frac)
        |JOIN n USING (event_type)""".stripMargin
    })

  lazy val defs: Seq[(String, QFn, Option[String])] = Seq(d25, d26, d27, d28, d29, d30, d31, d32, d33, d34, d35, d36, d37, d38, d39, d40, d92, d98, d102, d103)
}
