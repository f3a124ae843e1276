package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.CrossRound.round // shadows functions.round: cross-engine form

/**
 * Deduplication operators for training-data pipelines: exact (hash groupBy),
 * n-gram Jaccard, MinHash+LSH, SimHash. Beyond the reference's own surface —
 * these are the 100 TB-corpus capabilities a user of this engine needs.
 *
 * Scale design notes (the part that matters at 1000 executors):
 *  - Exact dedup is one shuffle on a 16-byte digest, never on the document
 *    body; map-side combine collapses most groups before the exchange.
 *  - Jaccard/MinHash candidate generation joins on SHINGLE or BAND KEY, never
 *    all-pairs. The shingle join's skew risk is hot shingles (stopword-only
 *    n-grams): `maxPostings` caps a shingle's posting list — standard
 *    df-cutoff, analogous to the reference's rare-category cutoffs.
 *  - MinHash signatures here use an md5-derived hash family so the DuckDB
 *    oracle can reproduce them bit-for-bit. For production throughput swap
 *    `hashFamily = Dedup.xxhashFamily` (codegen'd xxhash64, one pass, no hex
 *    round-trip) — identical structure, faster primitive.
 */
object Dedup {

  /** 60-bit positive int from the first 15 hex chars of md5(s + "#" + seed).
    * Reproducible in DuckDB as ('0x'||substr(md5(s||'#'||seed),1,15))::BIGINT. */
  def md5Hash(s: Column, seed: Column): Column =
    // native digest→long (r18): bit-identical to
    // conv(substring(md5(.), 1, 15), 16, 10)::long — the form the DuckDB
    // oracles replay — without materializing the hex string and paying
    // the base-16 conv parse per call (Md5LongSpec pins the equality)
    graft.functions.Md5Long(concat(s, lit("#"), seed.cast("string")))

  /** Production hash family: Spark's codegen'd xxhash64 with per-index seed.
    * NOT oracle-reproducible (DuckDB has no xxhash64) — use for real runs.
    * A stable val (not a def) so [[minhashWideSigs]] can recognize THIS
    * family by reference and take the one-pass native
    * [[graft.functions.XxMinHashSigs]] signature path (r18: the generic
    * transform+array_min fold ran k interpreted lambda walks per doc). */
  val xxhashFamily: (Column, Column) => Column =
    (s: Column, seed: Column) => xxhash64(s, seed)

  /** Exact dedup: canonical fingerprint → one group per digest, keep the
    * smallest id, count duplicates (`TextOps.fingerprint` for the robust
    * variant, plain `md5` for byte-exact). */
  def exact(df: DataFrame, idCol: String, keyExpr: Column): DataFrame =
    df.groupBy(keyExpr.as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Distinct (doc, shingle) pairs, with hot-shingle posting lists capped at
    * `maxPostings` docs (df-cutoff: a shingle every document contains carries
    * no dedup signal but would quadratically blow up the pair join).
    * Within-doc dedup is `array_distinct` BEFORE the explode — a row-local
    * projection — rather than `.distinct()` after it, which would shuffle
    * the full (doc, shingle) explosion just to remove within-row repeats. */
  def docShingles(df: DataFrame, idCol: String, textCol: String, n: Int,
                  maxPostings: Int = 0): DataFrame = {
    val sh = df.select(col(idCol).as("doc"),
      explode(array_distinct(
        TextOps.shingles(TextOps.tokens(col(textCol)), n))).as("s"))
    if (maxPostings <= 0) sh
    else {
      val hot = sh.groupBy("s").count().filter(col("count") > maxPostings)
        .select("s")
      sh.join(hot, Seq("s"), "left_anti")
    }
  }

  /** Per-document n-gram NOVELTY: the fraction of a doc's distinct shingles
    * whose canonical FIRST occurrence (min doc id over the corpus) is this
    * doc — the "what does this doc add" metric curation uses to prune
    * low-contribution documents (near-zero novelty = the content already
    * exists elsewhere; complements pairwise dedup, which needs a similar
    * PAIR, where novelty sees mass duplication spread thinly across many
    * docs). Ordering by id makes the attribution deterministic and
    * engine-independent: re-runs and re-partitionings credit the same doc.
    *
    * Scale shape: one distinct-shingle explode (the d05/d06 corpus pass),
    * one groupBy(shingle) min — posting-list-sized, with map-side partial
    * min — and the join back is ON the shingle key the explode already
    * produced. No pair generation at all: novelty is linear in corpus
    * shingle volume where pairwise metrics are quadratic in duplication. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val sh = docShingles(df, idCol, textCol, n)
    val first = sh.groupBy(col("s")).agg(min(col("doc")).as("first_doc"))
    val per = sh.join(first, Seq("s"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
    df.select(col(idCol).as("doc")).join(per, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        graft.ops.CrossRound.round(
          coalesce(col("n_novel").cast("double")
            / col("n_grams").cast("double"), lit(0.0)), 6).as("novelty"))
  }

  /** Cross-SOURCE contamination matrix: for every pair of sources, how many
    * distinct shingles they share, and that count as a fraction of the
    * smaller side's shingle vocabulary (containment of the smaller in the
    * larger — robust to size imbalance where Jaccard washes out). The
    * corpus-provenance diagnostic: a high cell means one source mirrors /
    * syndicates another, so per-source dedup thresholds and mixing weights
    * are double-counting that content.
    *
    * Scale shape: distinct (source, shingle) is one aggregation; the pair
    * join is keyed ON the shingle and fans out at most C(S,2) per shingle
    * (S = #sources, a few dozen) — bounded by construction, unlike doc-pair
    * generation. Output is S² rows. */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String,
                    n: Int): DataFrame = {
    val sh = df.select(col(srcCol).as("src"),
        explode(array_distinct(
          TextOps.shingles(TextOps.tokens(col(textCol)), n))).as("s"))
      .distinct()
    val vocab = sh.groupBy(col("src")).agg(count(lit(1)).as("n_grams"))
    val pairs = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("src_a"), col("y.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(vocab.select(col("src").as("src_a"), col("n_grams").as("_na")),
        Seq("src_a"))
      .join(vocab.select(col("src").as("src_b"), col("n_grams").as("_nb")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        graft.ops.CrossRound.round(col("n_shared").cast("double")
          / least(col("_na"), col("_nb")).cast("double"), 6)
          .as("overlap"))
  }

  /** Asymmetric shingle containment: for candidate pairs sharing >= 1
    * shingle, containment(A in B) = |sh(A) ∩ sh(B)| / |sh(A)|. Catches
    * QUOTE INCLUSION — a short document wholly embedded in a longer one —
    * which symmetric Jaccard misses (the union term dilutes it; see Lee et
    * al. 2022 on substring-level training-data dedup). Emits (a, b) pairs
    * with both directions' containment where either side reaches
    * `threshold`. Same posting-list join + df-cutoff scale shape as
    * [[jaccardPairs]]; everything up to the final two ratios is integer. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int, threshold: Double, maxPostings: Int = 0)
  : DataFrame = {
    val sh = Materialize(docShingles(df, idCol, textCol, n, maxPostings))
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val inter = sh.select(col("doc").as("a"), col("s"))
      .join(sh.select(col("doc").as("b"), col("s")), Seq("s"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(sizes.select(col("doc").as("b"), col("n_sh").as("nb")), Seq("b"))
      .withColumn("cont_a_in_b",
        round(col("inter").cast("double") / col("na").cast("double"), 6))
      .withColumn("cont_b_in_a",
        round(col("inter").cast("double") / col("nb").cast("double"), 6))
      .filter(col("cont_a_in_b") >= threshold ||
        col("cont_b_in_a") >= threshold)
      .select(col("a"), col("b"), col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** Benchmark decontamination: flag corpus documents sharing any word
    * n-gram with an evaluation set (the standard guard against test-set
    * leakage into training data). `isEval` marks the benchmark rows INSIDE
    * `df` (they are excluded from the output). Returns one row per
    * non-eval doc: (doc, n_overlap = distinct shared n-grams, contaminated).
    *
    * Scale shape: the eval side of the join is a benchmark suite — KBs
    * against a corpus of TBs — so its distinct n-gram set is broadcast and
    * the corpus side is one linear pass + a groupBy on doc id. Within-doc
    * shingle dedup is row-local (array_distinct before explode), so the
    * only corpus-wide shuffle is the final per-doc count. */
  def decontaminate(df: DataFrame, idCol: String, textCol: String, n: Int,
                    isEval: Column): DataFrame = {
    val sh = df.select(col(idCol).as("doc"), isEval.as("_eval"),
      explode(array_distinct(
        TextOps.shingles(TextOps.tokens(col(textCol)), n))).as("s"))
    val evalSh = sh.filter(col("_eval")).select(col("s")).distinct()
    val hits = sh.filter(!col("_eval"))
      .join(broadcast(evalSh), Seq("s"))
      .groupBy(col("doc")).agg(count(lit(1)).as("n_overlap"))
    df.filter(!isEval).select(col(idCol).as("doc"))
      .join(hits, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", (col("n_overlap") > 0).cast("long"))
  }

  /** Fuzzy benchmark decontamination: MinHash-LSH between the training
    * corpus and the eval slice. [[decontaminate]] catches EXACT n-gram
    * overlap; this catches paraphrased / partially-edited leakage the
    * exact probe misses — a train doc is flagged when it shares an LSH
    * band with any eval doc AND the full-signature estimate puts the pair
    * at est Jaccard >= `minEstJaccard`. Returns one row per non-eval doc:
    * (doc, n_flagged = eval docs it matched, contaminated).
    *
    * Scale shape: signatures are the same native projection as
    * [[minhashLsh]] (no (doc, shingle) explode); the candidate join is
    * train-bands ⋈ eval-bands on (band, bkey) — the eval side is a
    * benchmark suite (KBs against TBs), so it broadcasts, and no
    * train×train pair is ever formed, unlike the self-join dedup path.
    * The verify join moves one wide signature row per candidate doc. */
  def fuzzyDecontaminate(df: DataFrame, idCol: String, textCol: String,
                         isEval: Column, n: Int, k: Int, bands: Int,
                         minEstJaccard: Double): DataFrame = {
    val arr = graft.functions.MinHashSigs.minhashSigs(
      array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), n)), k)
    // checkpoint the array form before the column fan-out (same
    // project-collapse barrier as minhashLsh); shingle-less docs carry a
    // null signature — they can't be candidates but must still appear in
    // the output, which the final left join restores
    val sigs = Materialize(df.select(col(idCol).as("doc"),
        isEval.as("_eval"), arr.as("_sig")))
      .filter(col("_sig").isNotNull)
      .select(col("doc") +: col("_eval") +: (0 until k).map(j =>
        element_at(col("_sig"), j + 1).as(s"sig$j")): _*)
    val bk = lshBandKeys(sigs, k, bands)
    val evalIds = sigs.filter(col("_eval")).select(col("doc"))
    val bkT = bk.join(sigs.filter(!col("_eval")).select(col("doc")),
        Seq("doc")).select(col("doc").as("t"), col("band"), col("bkey"))
    val bkE = bk.join(evalIds, Seq("doc"))
      .select(col("doc").as("e"), col("band"), col("bkey"))
    val cand = bkT.join(broadcast(bkE), Seq("band", "bkey"))
      .select(col("t"), col("e")).distinct()
    val st = sigs.select(col("doc").as("t") +:
      (0 until k).map(j => col(s"sig$j").as(s"siga$j")): _*)
    val se = sigs.select(col("doc").as("e") +:
      (0 until k).map(j => col(s"sig$j").as(s"sigb$j")): _*)
    val matches = (0 until k).map(j =>
      when(col(s"siga$j") === col(s"sigb$j"), 1).otherwise(0))
      .reduce(_ + _)
    val flagged = cand.join(st, Seq("t")).join(broadcast(se), Seq("e"))
      .withColumn("_est", round(matches.cast("double") / lit(k.toDouble), 6))
      .filter(col("_est") >= minEstJaccard)
      .groupBy(col("t")).agg(count(lit(1)).as("n_flagged"))
    df.filter(!isEval).select(col(idCol).as("doc"))
      .join(flagged, col("doc") === col("t"), "left")
      .select(col("doc"),
        coalesce(col("n_flagged"), lit(0L)).as("n_flagged"))
      .withColumn("contaminated", (col("n_flagged") > 0).cast("long"))
  }

  /** Duplicated-span fraction per document: the scalable proxy for
    * suffix-array exact-substring dedup (Lee et al. 2022). A span is one
    * n-gram OCCURRENCE (positions, not distinct shingles); it is "duplicated"
    * when its n-gram occurs in >= 2 distinct documents. Returns one row per
    * input doc: (id, n_spans, dup_spans, dup_frac) — the per-doc fraction of
    * text covered by cross-document repeats, the usual cut feature for
    * boilerplate/mirror removal.
    *
    * Scale shape: LINEAR, unlike the pair ops — no candidate join. The
    * n-gram df table is vocabulary-sized (one shuffle to build it), and the
    * occurrence→df join shuffles occurrences on the n-gram key once; per-doc
    * rollup is the only other exchange. No posting-list cutoff is needed
    * because nothing is ever paired. */
  def dupSpans(df: DataFrame, idCol: String, textCol: String, n: Int)
  : DataFrame = {
    // occurrences feed both the df table and the join probe — materialize
    // once (same policy as jaccardPairs)
    val occ = Materialize(df.select(col(idCol).as("doc"),
      explode(TextOps.shingles(TextOps.tokens(col(textCol)), n)).as("s")))
    val docFreq = occ.distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val per = occ.join(docFreq, Seq("s"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("dup_spans"))
    df.select(col(idCol).as("doc"))
      .join(per, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_spans"), lit(0L)).as("dup_spans"),
        round(coalesce(col("dup_spans").cast("double")
          / col("n_spans").cast("double"), lit(0.0)), 6).as("dup_frac"))
  }

  /** Boilerplate stripping WITH document reconstruction — [[dupSpans]]'s
    * rewrite sibling: tokens covered by any occurrence of a
    * high-document-frequency n-gram (df > `maxDf`) are cut, and the
    * surviving tokens reassemble IN ORDER. This is the
    * header/footer/navigation removal pass of a web-corpus pipeline.
    * Output: (doc, n_tokens, n_removed, clean_fp) — the cleaned text
    * ships as its md5 so verification rows stay narrow.
    *
    * Scale shape: linear like dupSpans — the df table is
    * vocabulary-sized, the hot set (df above cutoff) is its small tail
    * and BROADCASTS to the occurrence probe; covered-position expansion
    * is n× the hot occurrences only. The rebuild groupBy moves each doc's
    * surviving (pos, token) pairs once; order is restored row-locally by
    * array_sort, never by a global sort. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       n: Int, maxDf: Int): DataFrame = {
    val toks = Materialize(df.select(col(idCol).as("doc"),
      TextOps.tokens(col(textCol)).as("w")))
    val sh = toks.select(col("doc"),
      posexplode(TextOps.shingles(col("w"), n)).as(Seq("spos", "s")))
    val hot = sh.select(col("doc"), col("s")).distinct()
      .groupBy(col("s")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDf).select(col("s"))
    rebuildWithoutSpans(toks, sh.join(broadcast(hot), Seq("s")), n,
      "n_removed")
  }

  /** Shared rewrite tail for the span-cutting passes ([[stripBoilerplate]],
    * [[exciseDupSpans]]): expand cut span starts (doc, spos) to their n
    * covered token positions, drop those tokens, reassemble the survivors
    * in order (row-local array_sort, never a global sort) and emit
    * (doc, n_tokens, `cutCountName`, clean_fp) with md5('') for fully-cut
    * or token-less docs — ONE copy of the rebuild contract. */
  private def rebuildWithoutSpans(toks: DataFrame, cutStarts: DataFrame,
                                  n: Int, cutCountName: String): DataFrame = {
    // cut-position-sized, but its subtree is the whole shingle explode +
    // hot-set join; the survivor anti-join AND the removed-count both
    // consume it — checkpoint so that pipeline runs once (d44
    // 21.2 -> 10.3 CPU-s, d102 17.0 -> 14.4 at sf0.1)
    val covered = Materialize(cutStarts
      .select(col("doc"),
        explode(sequence(col("spos"), col("spos") + n - 1)).as("pos"))
      .distinct())
    val tok = toks.select(col("doc"), posexplode(col("w")).as(Seq("pos", "t")))
    val rebuilt = tok.join(covered, Seq("doc", "pos"), "left_anti")
      .groupBy(col("doc"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("t")))),
        x => x.getField("t")), " ").as("_clean"))
    toks.select(col("doc"), size(col("w")).cast("long").as("n_tokens"))
      .join(covered.groupBy(col("doc")).agg(count(lit(1)).as(cutCountName)),
        Seq("doc"), "left")
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"),
        coalesce(col(cutCountName), lit(0L)).as(cutCountName),
        md5(coalesce(col("_clean"), lit(""))).as("clean_fp"))
  }

  /** Cross-document duplicate-SPAN excision — the substring-dedup pass
    * (the suffix-array dedup of Lee et al. 2022, re-expressed as n-gram
    * posting arithmetic): any k-token span occurring MORE THAN ONCE in
    * the corpus (across docs or within one) survives only at its first
    * occurrence; every other occurrence's covered tokens are cut and the
    * survivors reassemble in order. [[stripBoilerplate]] cuts spans hot
    * across MANY docs (df > maxDf, hot set broadcastable);
    * this cuts ANY repeat and keeps one canonical copy — the pass that
    * removes templated mirrors and licensing blocks without losing the
    * one copy the model should still see.
    *
    * First occurrence = minimum of the packed key doc·`posCap` + spos
    * (integer, exact in both engines). The bound is ENFORCED, not just
    * documented (the Quantiles precedent): any occurrence with
    * spos ≥ `posCap` (default 10⁶ ≈ a 4 MB document) fails the job with
    * a named error instead of silently mis-ordering keepers — raise
    * `posCap` for longer documents, keeping doc·posCap < 2⁶³ (swap to a
    * struct min for genuinely wider ids). The check rides the gram
    * projection, no extra pass. Scale shape:
    * occurrences shuffle ONCE on the gram key for the min/count
    * aggregate; the keeper join reuses that partitioning (no broadcast —
    * unlike boilerplate's hot tail, the df ≥ 2 set is corpus-sized);
    * covered-position expansion is k× the NON-KEEPER occurrences only;
    * the rebuild is stripBoilerplate's per-doc row-local sort, never a
    * global one. */
  def exciseDupSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, posCap: Long = 1000000L): DataFrame = {
    require(posCap > 0, "exciseDupSpans: posCap must be positive")
    val toks = Materialize(df.select(col(idCol).as("doc"),
      TextOps.tokens(col(textCol)).as("w")))
    val gr = toks.select(col("doc"),
      posexplode(TextOps.shingles(col("w"), k)).as(Seq("spos", "g")))
      .filter(assert_true(col("spos") < posCap, concat(
        lit("exciseDupSpans: doc "), col("doc").cast("string"),
        lit(s" has a span position >= posCap=$posCap;"),
        lit(" raise posCap (keep doc*posCap < 2^63)"))).isNull)
    def packed = col("doc") * lit(posCap) + col("spos")
    val dupKeep = gr.groupBy(col("g"))
      .agg(min(packed).as("_keep"), count(lit(1)).as("_occ"))
      .filter(col("_occ") >= 2)
    rebuildWithoutSpans(toks,
      gr.join(dupKeep, Seq("g")).filter(packed =!= col("_keep")), k,
      "n_excised")
  }

  /** MAXIMAL duplicated-substring spans + conservative excision — the
    * third member of the substring-dedup family, completing Lee et al.
    * 2022's exact-substring pass ([[dupSpans]] scores coverage,
    * [[exciseDupSpans]] keeps one canonical copy; THIS detects the
    * maximal repeated regions and cuts EVERY occurrence — the
    * decontamination-grade variant where no copy may survive):
    *
    *  1. every k-token suffix window that occurs MORE THAN ONCE in the
    *     corpus (across docs or within one) marks its covered positions
    *     — the relational form of the sorted-suffix-array neighbor
    *     compare (equal adjacent suffixes ⇔ a window key with occ ≥ 2);
    *  2. covered positions merge into MAXIMAL spans per doc by the
    *     gaps-and-islands window over (doc, position) order — overlapping
    *     and adjacent window covers coalesce, so a 30-token repeat
    *     reports as ONE span of 30, not 23 overlapping windows;
    *  3. survivors reassemble in order WITH a `|` marker at every cut
    *     junction, so the cleaned text never fabricates an adjacency the
    *     original corpus didn't have (re-windowing a junction-joined
    *     text could both mint phantom k-grams and mask the invariant).
    *
    * The invariant this buys (PropertiesSpec): every k-window drawn from
    * within the surviving segments occurs exactly ONCE in the original
    * corpus — cut-all removes every occurrence of every repeated window,
    * so the excised corpus contains no repeated window at all.
    *
    * Output: (doc, n_tokens, n_dup_windows, n_spans, max_span_tokens,
    * n_excised, clean_text). Callers publish md5(clean_text); the raw
    * text column exists for the property test and for pipelines that
    * consume the cleaned corpus directly.
    *
    * Scale shape: linear like [[exciseDupSpans]] — windows shuffle ONCE
    * on the window key for the occ-count (map-side combined), the dup
    * probe reuses that key, and the islands window + rebuild are doc-key
    * exchanges with partition-local sorts, never a global one. */
  def maxDupSpans(df: DataFrame, idCol: String, textCol: String, k: Int)
  : DataFrame = {
    val toks = Materialize(df.select(col(idCol).as("doc"),
      TextOps.tokens(col(textCol)).as("w")))
    val gr = toks.select(col("doc"),
      posexplode(TextOps.shingles(col("w"), k)).as(Seq("spos", "g")))
    val dupG = gr.groupBy(col("g")).agg(count(lit(1)).as("_occ"))
      .filter(col("_occ") >= 2).select(col("g"))
    // consumed by the cover AND the per-doc window count
    val dup = Materialize(gr.join(dupG, Seq("g")))
    // consumed by islands, the survivor anti-join and the junction probe
    val covered = Materialize(dup.select(col("doc"),
        explode(sequence(col("spos"), col("spos") + k - 1)).as("pos"))
      .distinct())
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc")).orderBy(col("pos"))
    val spans = covered
      .withColumn("_grp", col("pos") - row_number().over(wDoc))
      .groupBy(col("doc"), col("_grp")).agg(count(lit(1)).as("_len"))
    val spanStats = spans.groupBy(col("doc")).agg(
      count(lit(1)).as("n_spans"),
      max(col("_len")).as("max_span_tokens"),
      sum(col("_len")).as("n_excised"))
    val dw = dup.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_dup_windows"))
    val tok = toks.select(col("doc"),
      posexplode(col("w")).as(Seq("pos", "t")))
    // Profiled alternative, DECLINED (the r13 d98-checkpoint rule —
    // measure, then keep the winner): replacing the anti-join +
    // shifted-cover join with one left join + a doc-keyed lag window
    // saves a (doc,pos) shuffle but adds a partition-local sort of the
    // whole token table — measured sf1 isolated 6.55s vs 6.31s and
    // sf0.1 2.07s vs 1.79s for this hash-based form. Kept as is.
    val surv = tok.join(covered, Seq("doc", "pos"), "left_anti")
    val bnd = covered.select(col("doc"), (col("pos") + 1).as("pos"),
      lit(1).as("_bnd"))
    val seg = surv.join(bnd, Seq("doc", "pos"), "left")
      .select(col("doc"), col("pos"),
        when(col("_bnd") === 1, concat(lit("|"), col("t")))
          .otherwise(col("t")).as("t2"))
    val rebuilt = seg.groupBy(col("doc"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("t2")))),
        x => x.getField("t2")), " ").as("clean_text"))
    toks.select(col("doc"), size(col("w")).cast("long").as("n_tokens"))
      .join(dw, Seq("doc"), "left")
      .join(spanStats, Seq("doc"), "left")
      .join(rebuilt, Seq("doc"), "left")
      .select(col("doc"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("max_span_tokens"), lit(0L)).as("max_span_tokens"),
        coalesce(col("n_excised"), lit(0L)).as("n_excised"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= threshold).
    * Candidate pairs come from the shingle join (docs sharing >= 1 shingle);
    * |A∪B| = |A| + |B| − |A∩B| keeps everything integer-exact. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
                   threshold: Double, maxPostings: Int = 0): DataFrame = {
    // consumed by three branches (sizes + both join sides) — materialize
    // once, or the tokenize/shingle/distinct pipeline re-executes per
    // branch
    val sh = Materialize(docShingles(df, idCol, textCol, n, maxPostings))
    val sizes = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_sh"))
    val l = sh.select(col("doc").as("a"), col("s"))
    val r = sh.select(col("doc").as("b"), col("s"))
    val inter = l.join(r, Seq("s")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("a"), col("n_sh").as("na")), Seq("a"))
      .join(sizes.select(col("doc").as("b"), col("n_sh").as("nb")), Seq("b"))
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** MinHash signatures in WIDE form: one row per doc with columns
    * sig0..sig{k-1}, sig_j = min over the doc's shingles of
    * hashFamily(shingle, j). One aggregation pass over the (doc, shingle)
    * rows — k parallel `min` aggregates with map-side combine — instead of
    * exploding k× rows through the shuffle. */
  def minhashSignatures(sh: DataFrame, k: Int,
                        hashFamily: (Column, Column) => Column = md5Hash)
  : DataFrame = {
    val sigs = (0 until k).map(j =>
      min(hashFamily(col("s"), lit(j))).as(s"sig$j"))
    sh.groupBy(col("doc")).agg(sigs.head, sigs.tail: _*)
  }

  /** LSH band keys from the wide signature row: band key = md5 of the
    * comma-joined signature slice. One row per (doc, band) — docs sharing
    * any band key are candidates; the probability of sharing a band rises
    * sharply with true Jaccard (the (1/b)^(1/r) S-curve). */
  def lshBandKeys(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0,
      s"k=$k must be divisible by bands=$bands — integer floor would " +
        "silently drop the trailing signature positions from every band key")
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val key = md5(concat_ws(",",
        (b * rows until (b + 1) * rows).map(j =>
          col(s"sig$j").cast("string")): _*))
      struct(lit(b).as("band"), key.as("bkey"))
    }
    sigs.select(col("doc"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  /** Wide per-doc MinHash signatures (doc, sig0..sig{k-1}) as a PURE
    * PROJECTION — no (doc, shingle) explode, no signature shuffle. The
    * default md5 family uses the NATIVE [[graft.functions.MinHashSigs]]
    * codegen expression, bit-identical to the relational min-aggregation
    * the DuckDB oracles replay; a custom `hashFamily` (e.g.
    * [[xxhashFamily]], the production form) folds through `transform` +
    * `array_min` in the same projection shape. Shared by [[minhashLsh]]'s
    * no-cutoff path and the d62 k-sensitivity audit.
    *
    * DISPATCH IS BY REFERENCE IDENTITY (r18 ADVICE, documented
    * contract): the native one-pass xxhash path is selected by
    * `hashFamily eq xxhashFamily` — pass the [[xxhashFamily]] VAL
    * itself, never a structurally identical lambda or an eta-expanded
    * copy, or the call silently falls back to the k-lambda interpreted
    * fold (bit-identical results, ~2× the CPU). Any other custom family
    * intentionally takes the generic fold. */
  def minhashWideSigs(df: DataFrame, idCol: String, textCol: String, n: Int,
                      k: Int,
                      hashFamily: (Column, Column) => Column = null)
  : DataFrame = {
    val shArr =
      array_distinct(TextOps.shingles(TextOps.tokens(col(textCol)), n))
    // checkpoint the ARRAY form before any filter or column fan-out:
    // project-collapse would otherwise substitute the expression into
    // the null filter and all k element_at columns — k+1 recomputes of
    // the full signature per doc (measured 4x slower than the explode
    // path before this materialization barrier)
    val sigArrDf =
      if (hashFamily == null)
        df.select(col(idCol).as("doc"),
          graft.functions.MinHashSigs.minhashSigs(shArr, k).as("_sig"))
      else if (hashFamily eq xxhashFamily)
        // the production family gets the same native one-pass treatment
        // as md5 (r18): one codegen call per doc — string hash once per
        // shingle, k hashLong folds — instead of k interpreted
        // transform+array_min lambda walks (XxMinHashSigsSpec pins
        // bit-for-bit parity with the generic form below)
        df.select(col(idCol).as("doc"),
          graft.functions.XxMinHashSigs.xxMinhashSigs(shArr, k).as("_sig"))
      else {
        // same projection shape as the native path, hash swapped:
        // sig_j = min over shingles of hashFamily(s, j). The shingle
        // array is MATERIALIZED first — lambda-functions block Catalyst
        // subexpression elimination, so folding shArr into the k
        // transforms below would re-tokenize every doc k times
        // (measured 5x slower than this two-step form); after the
        // barrier each transform reads a plain attribute. array_min of
        // an empty doc is null -> whole-array null via the guard,
        // matching the native expression's null-for-empty contract.
        Materialize(df.select(col(idCol).as("doc"), shArr.as("_sh")))
          .select(col("doc"),
            when(size(col("_sh")) === 0, lit(null)).otherwise(
              array((0 until k).map(j => array_min(
                transform(col("_sh"), x => hashFamily(x, lit(j))))): _*))
              .as("_sig"))
      }
    Materialize(sigArrDf)
      .filter(col("_sig").isNotNull)
      .select(col("doc") +: (0 until k).map(j =>
        element_at(col("_sig"), j + 1).as(s"sig$j")): _*)
  }

  /** Full MinHash+LSH near-dup detection: candidate pairs from band-key
    * collisions, scored by estimated Jaccard = matching signature fraction.
    * Returns (a, b, est_jaccard). The band join shuffles 16-byte band keys;
    * the scoring join moves one wide signature row per doc — nothing fans
    * out k× or quadratically.
    *
    * With no posting-list cutoff, signatures are a PURE PROJECTION per
    * doc (no (doc, shingle) explode, no signature shuffle): the default
    * md5 family uses the NATIVE [[graft.functions.MinHashSigs]] codegen
    * expression, bit-identical to the relational min-aggregation the
    * oracle replays; a custom `hashFamily` (e.g. [[xxhashFamily]] — the
    * production form, measured as d49 vs d06 in the bench) folds through
    * `transform` + `array_min` in the same projection shape, so the two
    * paths differ ONLY in hash primitive. A `maxPostings` cutoff needs
    * corpus-wide document frequencies and takes the relational explode +
    * min-agg path. */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String, n: Int,
                 k: Int, bands: Int, maxPostings: Int = 0,
                 hashFamily: (Column, Column) => Column = null,
                 maxBandPostings: Int = 0)
  : DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    // one wide row per doc — tiny vs the corpus; materialized because the
    // band join and both scoring sides reuse it (else k*|shingles| md5s
    // rerun 3x)
    val sigs = (if (maxPostings == 0) {
      minhashWideSigs(df, idCol, textCol, n, k, hashFamily)
    } else {
      val fam = if (hashFamily == null) md5Hash _ else hashFamily
      Materialize(minhashSignatures(
        docShingles(df, idCol, textCol, n, maxPostings), k, fam))
    })
    minhashLshFromSigs(sigs, k, bands, maxBandPostings)
  }

  /** [[minhashLsh]] from a PRE-BUILT wide signature table (doc,
    * sig0..sig{k-1}) — the band join + hot-band cap + scoring stages
    * only. Lets a caller that ALSO needs the signatures for something
    * else (d73: the cap-policy histogram) compute them once instead of
    * paying the k·|shingles| hash pass per consumer. `sigs` must already
    * be materialized (both [[minhashWideSigs]] paths checkpoint) — the
    * band join and BOTH scoring sides consume it, so a lazy input would
    * silently recompute the k·|shingles| signature pass up to 3×.
    * private[graft] (r18 ADVICE): in-repo callers all pass checkpointed
    * frames; external callers go through [[minhashLsh]], which owns the
    * materialization. */
  private[graft] def minhashLshFromSigs(sigs: DataFrame, k: Int, bands: Int,
                                        maxBandPostings: Int = 0): DataFrame = {
    require(k % bands == 0, s"k=$k must be divisible by bands=$bands")
    val bk0 = lshBandKeys(sigs, k, bands)
    // HOT-BAND cap (the docShingles df-cutoff applied to the index side):
    // a band key shared by more than `maxBandPostings` docs is a
    // degenerate bucket — mass duplication or a hash pile-up — whose
    // candidate fan-out is quadratic in its depth while its dedup signal
    // is already carried by the surviving buckets; production indexes
    // purge them (and route the residents to an exact-dup pass, which
    // d01 IS). Depths come from a posting-list-sized aggregate.
    val bk = if (maxBandPostings <= 0) bk0 else {
      val hot = bk0.groupBy(col("band"), col("bkey"))
        .agg(count(lit(1)).as("_depth"))
        .filter(col("_depth") > maxBandPostings)
        .select(col("band"), col("bkey"))
      bk0.join(hot, Seq("band", "bkey"), "left_anti")
    }
    val cand = bk.select(col("doc").as("a"), col("band"), col("bkey"))
      .join(bk.select(col("doc").as("b"), col("band"), col("bkey")),
        Seq("band", "bkey"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val sl = sigs.select(col("doc").as("a") +:
      (0 until k).map(j => col(s"sig$j").as(s"siga$j")): _*)
    val sr = sigs.select(col("doc").as("b") +:
      (0 until k).map(j => col(s"sig$j").as(s"sigb$j")): _*)
    val matches = (0 until k).map(j =>
      when(col(s"siga$j") === col(s"sigb$j"), 1).otherwise(0))
      .reduce(_ + _)
    cand.join(sl, Seq("a")).join(sr, Seq("b"))
      .select(col("a"), col("b"),
        round(matches.cast("double") / lit(k.toDouble), 6).as("est_jaccard"))
  }

  /** Band-skew audit for a (persisted) LSH index: per band, the posting
    * depth distribution that decides whether the candidate join is safe —
    * `n_keys` buckets, `max_depth`, the number of HOT keys (depth >
    * `hotCap`), and `pair_slots` = Σ C(depth, 2), the exact candidate-pair
    * mass the band would feed the join (with `hot_pair_slots` isolating
    * the share the [[minhashLsh]] `maxBandPostings` cap would remove).
    * This is the operational twin of the cap: run the audit on the live
    * index, read hot_pair_slots/pair_slots, then set the cap. Everything
    * is exact integer arithmetic — hash-checkable. Scale shape: one
    * signature projection, one groupBy(band, bkey) at index size, one
    * 4-row aggregate.
    *
    * `hashFamily`: the SAME parameter [[minhashWideSigs]]/[[minhashLsh]]
    * take — pass the production family (e.g. [[xxhashFamily]]) so the
    * audit measures the depth distribution of the family the LIVE index
    * actually uses; default null = the oracle-replayable md5 family. An
    * audit run under a different family than the index answers a
    * different (wrong) question: depth skew is a property of the hash. */
  def bandDepthAudit(df: DataFrame, idCol: String, textCol: String, n: Int,
                     k: Int, bands: Int, hotCap: Int,
                     hashFamily: (Column, Column) => Column = null)
  : DataFrame = {
    val bk = lshBandKeys(
      minhashWideSigs(df, idCol, textCol, n, k, hashFamily), k, bands)
    // `/` is double division in the Column API; depths are far below 2^26
    // so the product is float64-exact and the cast restores BIGINT
    val slots = ((col("depth") * (col("depth") - 1)) / 2).cast("long")
    bk.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("depth"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_keys"),
        sum(col("depth")).as("n_postings"),
        max(col("depth")).as("max_depth"),
        sum(when(col("depth") > hotCap, 1L).otherwise(0L)).as("n_hot_keys"),
        sum(slots).as("pair_slots"),
        sum(when(col("depth") > hotCap, slots).otherwise(0L))
          .as("hot_pair_slots"))
  }

  /** Closed-loop cap policy: the function that turns a [[bandDepthAudit]]
    * reading into [[minhashLsh]]'s `maxBandPostings`, so the
    * audit → "operator reads hot_pair_slots/pair_slots" → cap loop needs
    * no human in it. One row per OBSERVED posting depth c — the candidate
    * caps; removed mass is a step function that only changes at observed
    * depths, so the integer argmin over observed depths equals the argmin
    * over all ints — with `keys_over` = index keys deeper than c,
    * `removed_pair_slots` = the exact candidate-pair mass Σ C(depth,2)
    * a cap of c would purge, `total_pair_slots`, and `recommended` = 1 on
    * the SMALLEST cap whose removed share is within `maxRemovedPct`
    * percent of the total pair mass (cap = max_depth always qualifies at
    * share 0, so a recommendation always exists on a non-empty index).
    * Integer-exact throughout: the share test is
    * removed*100 <= total*pct — no floats to drift cross-engine.
    *
    * Scale shape: the same signature projection and index-sized
    * groupBy(band, bkey) as the audit, then windows over the
    * DEPTH-HISTOGRAM (≤ max_depth rows) — the single-partition frames sit
    * on provably bounded data, the d64 cumsum precedent. */
  def recommendBandCap(df: DataFrame, idCol: String, textCol: String,
                       n: Int, k: Int, bands: Int, maxRemovedPct: Int,
                       hashFamily: (Column, Column) => Column = null)
  : DataFrame =
    recommendBandCapFromBandKeys(lshBandKeys(
      minhashWideSigs(df, idCol, textCol, n, k, hashFamily), k, bands),
      maxRemovedPct)

  /** [[recommendBandCap]] from a pre-built band-key table — so a caller
    * that then RUNS the capped index (d73) shares one signature pass
    * between the policy read and the run instead of hashing the corpus
    * twice. */
  def recommendBandCapFromBandKeys(bk: DataFrame, maxRemovedPct: Int)
  : DataFrame = {
    // C(depth,2) as exact long BEFORE the histogram multiply: depth and
    // n_keys are each far below 2^31, their long product never overflows
    val hist = bk.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("depth"))
      .groupBy(col("depth"))
      .agg(count(lit(1)).as("n_keys"))
      .select(col("depth"), col("n_keys"),
        (col("n_keys") *
          ((col("depth") * (col("depth") - 1)) / 2).cast("long"))
          .as("slots"))
    val wOver = Window.orderBy(col("depth").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy()
    val cum = hist.select(col("depth").as("cap"),
      coalesce(sum(col("n_keys")).over(wOver), lit(0L)).as("keys_over"),
      coalesce(sum(col("slots")).over(wOver), lit(0L))
        .as("removed_pair_slots"),
      sum(col("slots")).over(wAll).as("total_pair_slots"))
    val ok = col("removed_pair_slots") * 100 <=
      col("total_pair_slots") * maxRemovedPct
    cum.select(col("cap"), col("keys_over"), col("removed_pair_slots"),
      col("total_pair_slots"),
      when(ok && col("cap") === min(when(ok, col("cap"))).over(wAll), 1L)
        .otherwise(0L).as("recommended"))
  }

  /** Hash-family equivalence audit: run the SAME MinHash+LSH pipeline under
    * the oracle-replayable md5 family AND a production `family`
    * (e.g. [[xxhashFamily]]), and compact the comparison into ONE row:
    *
    *   - `n_pairs_md5`, `n_strong_md5` — md5-side counts, exactly
    *     replayable by a relational oracle (strong = est_jaccard ≥
    *     `strongEst`);
    *   - `family_jaccard_ok` — Jaccard of the two PAIR SETS ≥
    *     `jaccardFloor` (vacuously true when both sets are empty);
    *   - `strong_recall_ok` — no strong md5 pair is missing from the
    *     production family's set.
    *
    * Different hash families legitimately disagree on borderline pairs
    * (at k=16/bands=4 a true-Jaccard-0.7 pair collides with only ~0.67
    * probability per family), so the audit asserts wide-margin set
    * agreement, not equality: a BROKEN production family — wrong seed
    * plumbing, truncated input, constant hash — collapses the pair-set
    * Jaccard toward 0 or floods the set, flipping the booleans. The
    * thresholded verdicts are what make the audit hash-checkable by an
    * engine that cannot compute the production hash itself: the oracle
    * replays the md5 counts and expects literal `true` for the verdicts. */
  def hashFamilyAudit(df: DataFrame, idCol: String, textCol: String, n: Int,
                      k: Int, bands: Int,
                      family: (Column, Column) => Column,
                      strongEst: Double = 0.9,
                      jaccardFloor: Double = 0.8): DataFrame = {
    val base = minhashLsh(df, idCol, textCol, n, k, bands)
    val alt = minhashLsh(df, idCol, textCol, n, k, bands,
      hashFamily = family)
    val m = base.select(col("a"), col("b"), col("est_jaccard"))
      .withColumn("_m", lit(1))
    val x = alt.select(col("a"), col("b")).withColumn("_x", lit(1))
    val union = col("_nm") + col("_nx") - col("_ov")
    m.join(x, Seq("a", "b"), "full_outer")
      .agg(
        coalesce(sum(col("_m")), lit(0)).cast("long").as("_nm"),
        coalesce(sum(col("_x")), lit(0)).cast("long").as("_nx"),
        coalesce(sum(when(col("_m") === 1 && col("_x") === 1, 1)
          .otherwise(0)), lit(0)).cast("long").as("_ov"),
        coalesce(sum(when(col("est_jaccard") >= strongEst, 1)
          .otherwise(0)), lit(0)).cast("long").as("_nstrong"),
        coalesce(sum(when(col("est_jaccard") >= strongEst
          && col("_x").isNull, 1).otherwise(0)), lit(0)).cast("long")
          .as("_miss"))
      .select(
        col("_nm").as("n_pairs_md5"),
        col("_nstrong").as("n_strong_md5"),
        (union === 0 || col("_ov").cast("double") / union.cast("double")
          >= jaccardFloor).as("family_jaccard_ok"),
        (col("_miss") === 0).as("strong_recall_ok"))
  }

  /** SimHash of width `bits` over the doc's distinct tokens: bit i of the
    * hash is 1 when more token-hashes have bit i set than not. A PURE
    * PROJECTION: the token array is hashed once per token into a held
    * column, then `bits` filter-counts fold over that array row-locally —
    * no explode, no shuffle of the token stream, nothing leaves the scan
    * stage. (The previous explode → 60-aggregate groupBy form reshuffled
    * every token of the corpus just to bring them back to their own doc.)
    * Token-less docs are dropped, matching the relational form's semantics
    * (no rows → no group). Near-dups = pairs with small hamming distance
    * on the resulting long. */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int,
              hashFamily: (Column, Column) => Column = md5Hash): DataFrame = {
    require(bits <= 60, "md5-derived hashes carry 60 usable bits")
    // materialized as a column so the per-token hash runs once, not once
    // per bit position
    val hashed = df.select(col(idCol).as("doc"),
        transform(array_distinct(TextOps.tokens(col(textCol))),
          t => hashFamily(t, lit(0))).as("_th"))
      .filter(size(col("_th")) > 0)
    val n = size(col("_th"))
    val hash = (0 until bits).map { i =>
      when(size(filter(col("_th"), h =>
        shiftright(h, i).bitwiseAND(lit(1L)) === lit(1L))) * 2 > n,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    hashed.select(col("doc"), hash.as("simhash"))
  }

  /** End-to-end corpus dedup: exact-duplicate groups plus MinHash-LSH
    * near-dup pairs form an edge set; connected components (iterative
    * smallest-id label propagation — the scalable union-find substitute)
    * pick one representative per cluster. Each round combines one-hop
    * propagation over the edges with POINTER DOUBLING (label :=
    * min(label, label-of-label), a self-join on the label table), so labels
    * reach the component minimum in O(log diameter) rounds — plain one-hop
    * propagation alone is O(diameter) and a long duplicate chain would
    * exhaust `maxRounds`. Exhausting `maxRounds` without convergence throws:
    * silently returning split clusters would be a wrong answer.
    *
    * The iteration runs over the ACTIVE SET only — docs that appear in at
    * least one edge. Docs with no duplicate anywhere (the overwhelming
    * majority of a real corpus) never enter a propagation round; they are
    * attached as identity rows by one final left join. At 100 TB this is
    * the difference between shuffling the corpus every round and shuffling
    * only the few percent that sit in a duplicate component.
    * Returns (doc, keep_id): keep_id = the smallest doc id of the
    * cluster; rows with doc == keep_id form the deduplicated corpus. */
  def dedupCorpus(df: DataFrame, idCol: String, textCol: String, n: Int,
                  k: Int, bands: Int, minEstJaccard: Double,
                  maxRounds: Int = 10): DataFrame = {
    // both pair lists appear TWICE in the edge union (the mirror) — and
    // a union's branches do not share subtrees, so lazily the exact
    // md5-group pass and the LSH band-join + signature scoring each ran
    // twice inside the edge build. Pair-list-sized checkpoints
    // (r19: d34 38.7 -> 17.8 CPU-s, d10 26.6 -> 11.8 at sf0.1).
    val exactPairs = {
      val g = exact(df, idCol, md5(col(textCol)))
      Materialize(df.select(col(idCol).as("doc"), md5(col(textCol)).as("fp"))
        .join(g.select(col("fp"), col("keep_id")), Seq("fp"))
        .select(col("doc"), col("keep_id").as("peer"))
        .filter(col("doc") =!= col("peer")))
    }
    val nearPairs = Materialize(minhashLsh(df, idCol, textCol, n, k, bands)
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("a").as("doc"), col("b").as("peer")))
    val edges = exactPairs.unionByName(nearPairs)
      .unionByName(exactPairs.select(col("peer").as("doc"),
        col("doc").as("peer")))
      .unionByName(nearPairs.select(col("peer").as("doc"),
        col("doc").as("peer")))
    labelComponents(df.select(col(idCol).as("doc")), edges, maxRounds)
  }

  /** The connected-components engine [[dedupCorpus]] runs, factored so
    * other edge substrates (c08's cross-modal duplicate pairs) reuse the
    * identical active-set + pointer-doubling iteration: `nodes` is a
    * one-column (`doc`) frame of every node, `edges0` a symmetric
    * (`doc`, `peer`) pair list (both directions present; need not be
    * distinct). Returns (doc, keep_id) with keep_id = min id reachable —
    * identity rows for nodes touching no edge. */
  def labelComponents(nodes: DataFrame, edges0: DataFrame,
                      maxRounds: Int = 10): DataFrame = {
    val edges = Materialize(edges0.distinct())
    // label propagation to fixpoint (bounded): label = min id reachable.
    // The first hop is folded into initialization: against the identity
    // label map it reduces to min(id, min(peer)) straight off the edge
    // list, and its convergence check could never pass (any edge lowers
    // some label) — so don't pay a checked round for it. The groupBy's
    // key set IS the active set, so no join against the corpus here.
    // each round's label table is materialized: with the doubling join
    // referencing `labels` several times per round, an untruncated
    // logical tree grows ~4x per round, and Catalyst re-canonicalizes it
    // on every convergence count (measured with a cache(), which keeps
    // the logical lineage: the 10x fixture drove the c08 driver into
    // minutes of pure plan canonicalization before any executor work).
    // Truncated, planning cost is constant per round at any scale.
    var labels: DataFrame = Materialize(edges.groupBy(col("doc"))
      .agg(min(col("peer")).as("_p"))
      .select(col("doc"), least(col("doc"), col("_p")).as("label")))
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val viaPeers = edges
        .join(labels.select(col("doc").as("peer"), col("label")), Seq("peer"))
        .select(col("doc"), col("label"))
      // pointer doubling: each doc also adopts its label's label — halves
      // the remaining distance to the component minimum every round. The
      // first two checked rounds skip it: with the first hop folded into
      // initialization they cover distances 2-3, the typical near-dup
      // component diameter, and the final no-change-observed round
      // shouldn't pay for a join it can't use. From round 2 the doubling
      // join engages, so a diameter-D chain still finishes in O(log D)
      // further rounds instead of O(D). Every label is itself an active
      // doc id (labels only travel along edges), so the doubling
      // self-join stays within the active set.
      val hopped =
        if (round < 2) labels.unionByName(viaPeers)
        else {
          val viaLabels = labels.select(col("doc"), col("label").as("_mid"))
            .join(labels.select(col("doc").as("_mid"),
              col("label").as("_ll")), Seq("_mid"))
            .select(col("doc"), col("_ll").as("label"))
          labels.unionByName(viaPeers).unionByName(viaLabels)
        }
      // the convergence check rides the same materialization as the new
      // label table (the _old column is dropped before the next round) —
      // no second join job against the previous round
      val next = Materialize(hopped
        .groupBy(col("doc")).agg(min(col("label")).as("label"))
        .join(labels.select(col("doc"), col("label").as("_old")), Seq("doc")))
      val changed = next.filter(col("label") =!= col("_old")).limit(1).count()
      labels = next.select(col("doc"), col("label"))
      converged = changed == 0
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"labelComponents: label propagation did not converge in $maxRounds " +
          "rounds — raise maxRounds (pointer doubling needs " +
          "O(log component-diameter) rounds)")
    // re-attach the passive majority as identity rows
    nodes.select(col("doc"))
      .join(labels, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("label"), col("doc")).as("keep_id"))
  }

  /** Incremental-ingest dedup: admit a NEW batch against the existing
    * corpus. A new doc is rejected if its fingerprint already exists in
    * the corpus (`dup_corpus`) or an earlier batch doc claimed it
    * (`dup_batch`); otherwise `new`. This is the continuous-curation
    * shape: the corpus side reduces to a distinct 16-byte digest index
    * joined on fp (shuffle anti-join at TB scale — never collected), the
    * batch-internal dedup is a window over the batch only (batches are
    * small relative to the corpus).
    * Output: (doc, fp, reason, admitted). */
  def incrementalDedup(df: DataFrame, idCol: String, fp: Column,
                       isNew: Column): DataFrame = {
    val withFp = df.select(col(idCol).as("doc"), fp.as("fp"), isNew.as("_new"))
    val corpusFps = withFp.filter(!col("_new"))
      .select(col("fp")).distinct().withColumn("_hit", lit(1L))
    val batch = withFp.filter(col("_new"))
    val firstInBatch = Window.partitionBy(col("fp")).orderBy(col("doc"))
    val reason = when(col("_hit").isNotNull, "dup_corpus")
      .when(row_number().over(firstInBatch) > 1, "dup_batch")
      .otherwise(lit("new"))
    batch.join(corpusFps, Seq("fp"), "left")
      .withColumn("reason", reason)
      .select(col("doc"), col("fp"), col("reason"),
        (col("reason") === "new").cast("long").as("admitted"))
  }

  /** Hamming-distance pairs over simhash values (a < b, dist <= maxDist),
    * via pigeonhole banding: dist <= d implies an exact match on at least
    * one of d+1 bit segments, so candidates come from an equi-join on
    * (segment index, segment bits) — never an all-pairs crossJoin. Exact
    * bit_count verification filters false candidates. */
  def simhashPairs(hashes: DataFrame, maxDist: Int, bits: Int = 60): DataFrame = {
    val segs = maxDist + 1
    val segBits = (bits + segs - 1) / segs
    val mask = (1L << segBits) - 1
    // both band sides consume the signature table — materialize it once,
    // or the upstream simhash aggregation (`bits` conditional sums over
    // the token explode) runs twice. The table is narrow (id + one
    // long), so the storage cost is trivial.
    val hs = Materialize(hashes)
    def banded(idAs: String, hashAs: String): DataFrame =
      hs.select(col("doc").as(idAs), col("simhash").as(hashAs),
        explode(array((0 until segs).map(i =>
          struct(lit(i).as("seg"),
            shiftright(col("simhash"), i * segBits).bitwiseAND(lit(mask))
              .as("bits"))): _*)).as("sb"))
        .select(col(idAs), col(hashAs),
          col("sb.seg").as("seg"), col("sb.bits").as("bits"))
    banded("a", "ha").join(banded("b", "hb"), Seq("seg", "bits"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      // filter BEFORE distinct: the exact-verify predicate discards most
      // segment-collision candidates, so the dedup shuffle moves only
      // true near-pairs
      .filter(col("hamming") <= maxDist)
      .distinct()
  }
}
