package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Supervised-training data preparation: leakage-free target encoding,
  * chronological splits with embargo, annotation majority vote. The
  * label-side complement to the corpus-curation operators ([[Dedup]],
  * [[Sampling]], [[TextOps]]) — registry rows d63–d65.
  *
  * Determinism discipline (shared with the whole repo): every statistic
  * is integer-exact until one final rounded division, folds and splits
  * are content- or time-addressed (never RNG-seeded), ties break by a
  * total order — results are identical across runs, engines and
  * partitionings. */
object Prep {

  /** Out-of-fold mean-target encoding with additive smoothing (the
    * leakage-free form of CatBoost-style categorical encoding): for each
    * (category c, fold f),
    * `enc = (pos(c) − pos(c,f) + m·prior) / (cnt(c) − cnt(c,f) + m)`
    * where `prior` is the global positive rate — each fold is encoded
    * with the OTHER folds' statistics only, so a row's own label never
    * reaches its own feature value.
    *
    * Input: `(category, fold, y)` rows with `y ∈ {0, 1}` (long).
    * Output: one row per (category, fold): `n`, `pos`, `encoded`.
    *
    * Scale: ONE corpus-sized exchange (the (category, fold) aggregation,
    * map-side combined). Per-category totals and the global prior derive
    * from that |C|·k-row aggregate; the out-of-fold subtraction means no
    * second corpus pass — k-fold encoding at O(1) extra cost. */
  def outOfFoldTargetEncode(samples: DataFrame, m: Double): DataFrame = {
    // |C|·k rows — materialized so all three consumers (per-fold rows, the
    // category totals, the global prior) read ONE corpus aggregation.
    // Without this, the equi-join infers isnotnull(category) into two of
    // the three branches but not the crossJoined global one; the subtrees
    // then differ and exchange reuse fails, silently re-scanning and
    // re-shuffling the whole corpus for the prior (caught by
    // PlanShapeSpec's d63 exchange count).
    val byFold = Materialize(samples.groupBy("category", "fold")
      .agg(count(lit(1)).as("n"), sum("y").as("pos")))
    val byCat = byFold.groupBy("category")
      .agg(sum("n").as("tn"), sum("pos").as("tp"))
    val global = byFold.agg(sum("n").as("gn"), sum("pos").as("gp"))
    val prior = col("gp").cast("double") / col("gn")
    byFold.join(broadcast(byCat), "category")
      .crossJoin(broadcast(global))
      .select(col("category"), col("fold"), col("n"), col("pos"),
        CrossRound.round((col("tp") - col("pos") + lit(m) * prior) /
          (col("tn") - col("n") + lit(m)), 6).as("encoded"))
  }

  /** Chronological split labels at count fractions, cut on DISTINCT
    * `tsCol` boundaries (two simultaneous rows never separate — that is
    * both the semantics a temporal split needs and what makes the cut
    * deterministic without a row tiebreaker). `bounds` are cumulative
    * count fractions paired with split names; rows past the last bound
    * get `last`. Embargo gaps are expressed as named bounds whose rows
    * the caller drops (or audits, as d64 does).
    *
    * Returns the `(ts, split)` assignment table, to be equi-joined back
    * to the corpus. Scale: the corpus is never globally sorted — ranks
    * live on the distinct-ts table via [[Sequences.globalCumsum]] (range
    * partitions + broadcast offsets, no single-task window). */
  def temporalSplitByTs(df: DataFrame, tsCol: String,
                        bounds: Seq[(Double, String)],
                        last: String): DataFrame = {
    // distinct-ts-sized, but its subtree is the corpus count pass and
    // BOTH the cumsum and the total consume it — checkpoint so the
    // events scan+aggregate runs once (d64: 22.8 -> 7.0 CPU-s at sf0.1)
    val tc = Materialize(df.groupBy(tsCol).agg(count(lit(1)).as("cnt")))
    val cum = Sequences.globalCumsum(tc, tsCol, col("cnt"), "cum")
    val total = tc.agg(sum("cnt").as("n"))
    val split = bounds.foldRight(lit(last)) { case ((frac, name), acc) =>
      when(col("cum") <= floor(lit(frac) * col("n")), name).otherwise(acc)
    }
    cum.crossJoin(broadcast(total)).select(col(tsCol), split.as("split"))
  }

  /** Per-item modal vote over a CLOSED vocabulary with a deterministic
    * tie-break (max count, then min vocabulary index). Output: one row
    * per item — `(item, majority, total, top)`.
    *
    * Scale: ONE exchange. The closed vocabulary turns vote counting into
    * a conditional aggregation (map-side combined; no (item, vote)
    * pre-shuffle), and the argmax is a packed-score projection on the
    * aggregate row: with `w` the smallest power of two > |V|,
    * `score_i = cnt_i·w − i`; `g = greatest(scores)` recovers
    * `i = (w − g mod w) mod w` and `cnt = (g + i)/w` — pure integer
    * algebra a SQL oracle replays bit-for-bit; no window, no second
    * corpus shuffle. Requires |V| < w and cnt ≥ 1 for some entry (any
    * item with at least one vote). */
  def majorityVote(votes: DataFrame, item: String, vote: String,
                   vocab: Seq[String]): DataFrame = {
    val counted = votes.groupBy(col(item)).agg(
      count(lit(1)).as("total"),
      vocab.zipWithIndex.map { case (v, i) =>
        count(when(col(vote) === v, 1)).as(s"c$i")
      }: _*)
    val (maj, top) = packedArgmax(vocab, i => col(s"c$i"))
    counted.select(col(item), maj.as("majority"), col("total"),
      top.as("top"))
  }

  /** k-anonymity / l-diversity audit over quasi-identifier columns — the
    * privacy gate a data release runs beside the PII redaction (d16) and
    * the release-set assembly (d46): a row is re-identifiable when its
    * quasi-identifier combination is shared by fewer than `k` rows, and a
    * k-anonymous group still leaks when every member shares the same
    * sensitive value (l-diversity = distinct sensitive values per group).
    * Output is one row per occupied QI combination with its group size,
    * l-diversity and the `at_risk` flag (n < k) — the table a release
    * pipeline joins back to suppress or generalize flagged combinations.
    *
    * Scale shape: ONE aggregation on the QI key with map-side combine
    * (count) and partial-distinct (countDistinct dedups map-side before
    * the exchange); output is occupied-combination-sized, never
    * row-sized. At 100 TB the QI space is what bounds the result, and
    * the suppress/generalize join-back is a broadcast when flagged
    * combos are few (they are — that is what the gate checks). */
  def kAnonymity(df: DataFrame, qiCols: Seq[String], sensitive: Column,
                 k: Long): DataFrame = {
    require(k >= 2, "kAnonymity: k must be >= 2")
    df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("l_div"))
      .withColumn("at_risk", (col("n") < k).cast("long"))
  }

  /** Fleiss-style chance-corrected inter-annotator agreement, pooled by
    * panel size — the audit BESIDE [[majorityVote]]: d65 tells you the
    * consensus label, this tells you whether the raters agree more than
    * chance would (kappa ≈ 0 means the labels are noise no vote can
    * rescue; the table every labeling-vendor QA pass reads). Per panel
    * size n (items that received exactly n votes, n ≥ 2):
    *
    *   P_o = Σ_items Σ_labels C(n_ij, 2) / Σ_items C(n_i, 2)
    *     (pooled pairwise agreement: of all rater pairs on the same
    *     item, the share that chose the same label)
    *   P_e = Σ_labels M_j² / M²  (squared marginal shares — the chance
    *     two independent raters drawn from this panel group collide)
    *   kappa = (P_o − P_e) / (1 − P_e), NULL when P_e = 1 (a single
    *     occupied label makes chance correction undefined).
    *
    * Determinism: every count is an exact BIGINT (agreeing pairs,
    * total pairs, marginals); P_o and P_e are ONE double division each
    * over those exact integers and kappa is IEEE arithmetic on the two —
    * identical expression both engines, 6-dp cross-engine round at
    * publish (negative-zero-normalized: P_o − P_e is a near-cancellation
    * when agreement is exactly chance-level). Scale shape: two corpus
    * aggregations (item×label counts, then per-item), both map-side
    * combined; everything after is panel-group-sized. */
  def agreementByPanel(votes: DataFrame, item: String, vote: String)
  : DataFrame = {
    val c = votes.groupBy(col(item).as("_i"), col(vote).as("_v"))
      .agg(count(lit(1)).as("_nij"))
    // halve with a bit shift, not `/ 2`: Divide is double-typed, and a
    // 53-bit mantissa would silently truncate pair counts past 2^53 —
    // the sums are even and non-negative, so >> 1 is the exact form
    val it = c.groupBy(col("_i"))
      .agg(sum(col("_nij")).as("_ni"),
        shiftright(sum(col("_nij") * (col("_nij") - 1)), 1).as("_agree"))
      .filter(col("_ni") >= 2)
    val g = it.groupBy(col("_ni").as("n_raters"))
      .agg(count(lit(1)).as("n_items"), sum(col("_agree")).as("agree_pairs"),
        shiftright(sum(col("_ni") * (col("_ni") - 1)), 1)
          .as("total_pairs"))
    val m = c.join(it.select(col("_i"), col("_ni")), Seq("_i"))
      .groupBy(col("_ni").as("n_raters"), col("_v"))
      .agg(sum(col("_nij")).as("_mj"))
    val e = m.groupBy(col("n_raters"))
      .agg(sum(col("_mj") * col("_mj")).as("_pe_num"),
        sum(col("_mj")).as("_m"))
    val po = col("agree_pairs").cast("double") /
      col("total_pairs").cast("double")
    val pe = col("_pe_num").cast("double") /
      (col("_m").cast("double") * col("_m").cast("double"))
    g.join(e, Seq("n_raters"))
      .select(col("n_raters"), col("n_items"), col("agree_pairs"),
        col("total_pairs"),
        CrossRound.round(po, 6).as("po"),
        CrossRound.round(pe, 6).as("pe"),
        when(pe < 1.0,
          CrossRound.roundNz((po - pe) / (lit(1.0) - pe), 6)).as("kappa"))
  }

  /** Conversation flattening into SFT training examples: within each
    * conversation (ordered by `ord`, which must be a TOTAL order — ties
    * would make the context nondeterministic), every turn with at least
    * one predecessor becomes one example — `context` = the previous
    * up-to-`k` turns space-joined in order, `target` = the turn itself,
    * `n_ctx` the context length in turns (the loss-mask boundary: a
    * trainer masks exactly the context prefix), and `example_fp` =
    * md5(context " => " target), the content-addressed example id that
    * makes the emitted dataset exact-dedupable (d01) and joinable
    * across re-runs. The first turn of a conversation emits nothing
    * (no context to condition on).
    *
    * Scale shape: ONE exchange on the conversation key + the
    * partition-local sort the window plans; per-conversation cost is
    * bounded by conversation length (the q12 per-user trade). The
    * collect_list frame is at most `k` elements — constant memory. */
  def sftExamples(df: DataFrame, convo: Column, exampleId: Column,
                  ord: Seq[Column], turn: Column, k: Int): DataFrame = {
    require(k >= 1, "sftExamples: k must be >= 1")
    val ordCols = ord.zipWithIndex.map { case (c, i) => c.as(s"_o$i") }
    val base = df.select(convo.as("convo_id") +:
      exampleId.as("example_id") +: turn.as("target") +: ordCols: _*)
    val w = Window.partitionBy(col("convo_id"))
      .orderBy(ord.indices.map(i => col(s"_o$i")): _*)
      .rowsBetween(-k, -1)
    base
      .withColumn("context",
        concat_ws(" ", collect_list(col("target")).over(w)))
      .withColumn("n_ctx", count(lit(1)).over(w))
      .filter(col("n_ctx") >= 1)
      .select(col("convo_id"), col("example_id"), col("context"),
        col("target"), col("n_ctx"),
        md5(concat(col("context"), lit(" => "), col("target"))
          .cast("binary")).as("example_fp"))
  }

  /** Precision/recall/F1 threshold sweep of an integer-grid score
    * against a binary label — the operating-point table a learned
    * quality filter ships with (pick the keep cutoff off this curve).
    * `scoreMicro` must already live on the exact BIGINT micro grid
    * (0..1e6, e.g. floor(q·1e6 + 0.5) of a 6-dp-rounded score);
    * `steps` equal-width thresholds k/steps, k = 0..steps. Emits per
    * threshold: n_pred, tp, fp, fn, prec, rec, f1 — all counts exact,
    * every ratio ONE double division (F1 in the single-division form
    * 2·TP/(pred + pos)), NULL where undefined.
    *
    * Scale shape: ONE corpus aggregation to a (steps+1)-row histogram
    * with map-side combine, then a broadcast triangle join of two tiny
    * tables — the corpus is never scanned per threshold. */
  def thresholdSweep(df: DataFrame, scoreMicro: Column, label: Column,
                     steps: Int = 20): DataFrame = {
    require(steps >= 1 && 1000000 % steps == 0,
      "thresholdSweep: steps must divide the 1e6 micro grid")
    val stepW = 1000000.0 / steps
    // steps+1 rows, but its SUBTREE is the corpus scoring pass — and the
    // total + the triangle join each consume it, so lazily the corpus was
    // scanned and scored twice (d87: 21.6 CPU-s at sf0.1, 5.0 after).
    // Materializing a ~21-row histogram is always the right trade.
    val hist = Materialize(df.select(scoreMicro.cast("long").as("_sm"),
        label.cast("long").as("_y"))
      .groupBy(floor(col("_sm") / lit(stepW)).cast("long").as("_bucket"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_pos")))
    val tot = hist.agg(sum(col("_pos")).as("_tp_all"))
    val ks = df.sparkSession.range(0, steps + 1).select(col("id").as("_k"))
    ks.join(broadcast(hist), col("_bucket") >= col("_k"), "left")
      .groupBy(col("_k"))
      .agg(coalesce(sum(col("_n")), lit(0L)).as("n_pred"),
        coalesce(sum(col("_pos")), lit(0L)).as("tp"))
      .crossJoin(broadcast(tot))
      .select(
        (col("_k").cast("double") / lit(steps.toDouble)).as("threshold"),
        col("n_pred"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("_tp_all") - col("tp")).as("fn"),
        when(col("n_pred") > 0, CrossRound.round(col("tp").cast("double")
          / col("n_pred").cast("double"), 6)).as("prec"),
        when(col("_tp_all") > 0, CrossRound.round(col("tp").cast("double")
          / col("_tp_all").cast("double"), 6)).as("rec"),
        when(col("n_pred") + col("_tp_all") > 0,
          CrossRound.round(lit(2.0) * col("tp").cast("double")
            / (col("n_pred") + col("_tp_all")).cast("double"), 6))
          .as("f1"))
  }

  /** Content-addressed Laplace(0, scale) noise for DP-style releases:
    * u = ((h>>8)+1)/(2^52+1) with h the 60-bit md5Hash(key # salt) — the
    * d70 Gumbel idiom, u strictly in (0,1), every integer in the ratio
    * exactly double-representable — then the inverse CDF
    * −scale·sign(u−½)·ln(1−2|u−½|). Engine-replayable by construction
    * (the same property that makes d70's resampling verifiable): a
    * PRODUCTION ε-DP release must draw from a real entropy source —
    * this deterministic draw is the test-harness form that lets the
    * oracle verify the MECHANISM (clipping, sensitivity scaling,
    * inverse CDF) bit-for-bit. u = ½ exactly → sign 0 → noise 0. */
  def laplaceNoise(key: Column, salt: String, scale: Double): Column = {
    val u = (shiftright(Dedup.md5Hash(key.cast("string"), lit(salt)), 8)
      + lit(1L)).cast("double") / lit(4503599627370497L).cast("double")
    val d = u - lit(0.5)
    lit(-scale) * signum(d) * log(lit(1.0) - lit(2.0) * abs(d))
  }

  /** Population Stability Index between two cohorts of one bucketed
    * metric — the release-gate drift audit (PSI is the credit-risk /
    * model-monitoring standard; > 0.25 conventionally blocks a release).
    * Input: one row per (cohort-membership) observation with a group
    * key, a bucket in [0, buckets), and 0/1 membership flags for cohort
    * A and B (a doc in both releases contributes one row per side, so
    * metric DRIFT — same doc, different bucket — is visible, not just
    * membership churn). Emits the full dense per-(group, bucket) table:
    * exact counts, Laplace-smoothed shares p = (c+1)/(n+buckets), the
    * per-bucket PSI contribution (p_a − p_b)·ln(p_a/p_b) ≥ 0, and the
    * group's total PSI as an exact-decimal window sum of the 6-dp
    * contributions.
    *
    * Determinism: counts are exact BIGINTs, shares are single IEEE
    * divisions of exact integers, the one ln() rounds at 6 dp (the
    * d26/d69 libm policy), and the total sums 6-dp-grid values through
    * DECIMAL(18,9) — order-independent at any parallelism.
    *
    * Scale shape: ONE corpus-sized exchange (the (group, bucket) count
    * aggregation with map-side combine); everything after runs on the
    * |groups|·buckets dense grid — broadcast-scale forever. */
  def psiDrift(df: DataFrame, grp: Column, bucket: Column,
               inA: Column, inB: Column, buckets: Int): DataFrame = {
    val c = df.select(grp.as("grp"), bucket.cast("long").as("bucket"),
      inA.cast("long").as("_ia"), inB.cast("long").as("_ib"))
    // grid-sized and read twice (spine + join) — materialized so the
    // spine's distinct does NOT re-run the corpus aggregation (and the
    // corpus is scanned exactly once more than the A/B union needs;
    // PlanShapeSpec pins the scan count). Profiled per the r12 rule:
    // sf1 isolated 1.45s with vs 1.69s without — the checkpoint wins.
    val counts = Materialize(c.groupBy(col("grp"), col("bucket"))
      .agg(sum(col("_ia")).as("n_a"), sum(col("_ib")).as("n_b")))
    val spine = counts.select(col("grp")).distinct()
      .select(col("grp"),
        explode(sequence(lit(0L), lit(buckets - 1L))).as("bucket"))
    val wG = Window.partitionBy(col("grp"))
    val dense = spine.join(counts, Seq("grp", "bucket"), "left")
      .select(col("grp"), col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
      .withColumn("_ta", sum(col("n_a")).over(wG))
      .withColumn("_tb", sum(col("n_b")).over(wG))
    val pa = (col("n_a") + lit(1L)).cast("double") /
      (col("_ta") + lit(buckets.toLong)).cast("double")
    val pb = (col("n_b") + lit(1L)).cast("double") /
      (col("_tb") + lit(buckets.toLong)).cast("double")
    dense
      .withColumn("p_a", CrossRound.round(pa, 6))
      .withColumn("p_b", CrossRound.round(pb, 6))
      // contrib is mathematically >= 0 but lands on IEEE -0.0 when
      // pa/pb rounds to exactly 1.0 while pa - pb is a tiny negative:
      // (-eps) * ln(1.0) = -0.0. Signed-derived quantity => roundNz
      // (registry float policy; the q87/d98 failure class).
      .withColumn("contrib",
        CrossRound.roundNz((pa - pb) * log(pa / pb), 6))
      .withColumn("psi", CrossRound.roundNz(
        sum(col("contrib").cast("decimal(18,9)")).over(wG).cast("double"),
        6))
      .select(col("grp"), col("bucket"), col("n_a"), col("n_b"),
        col("p_a"), col("p_b"), col("contrib"), col("psi"))
  }

  /** The packed-score argmax over closed-vocab count columns: with `w`
    * the smallest power of two > |V|, `score_i = cnt_i·w − i`;
    * `g = greatest(scores)` recovers `i = (w − g mod w) mod w` and
    * `cnt = (g + i)/w`. Returns `(majority label, top count)` as pure
    * projections over the aggregate row — shared by the batch
    * [[majorityVote]] and the streaming windowed twin
    * (`EventStream.windowedVote`), and replayed verbatim by both
    * queries' oracles. Requires some `cnt_i ≥ 1` (any item with a
    * vote). */
  private[graft] def packedArgmax(vocab: Seq[String],
                                  cnt: Int => Column): (Column, Column) = {
    val w = Integer.highestOneBit(vocab.size) * 2 // smallest 2^k > |V|
    val scores = vocab.indices.map(i => cnt(i) * w - lit(i))
    val g = greatest(scores: _*)
    val idx = (lit(w) - pmod(g, lit(w))) % w
    val top = ((g + idx) / w).cast("long")
    val maj = vocab.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (v, i)) => when(idx === i, v).otherwise(acc)
    }
    (maj, top)
  }
}
