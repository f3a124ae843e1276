package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * BPE-style subword encoding as a bounded chain of native string
 * transforms — the one LLM-pipeline text operation the engine lacked a
 * representative for (d45 encodes whole-token ids; real tokenizers
 * encode SUBWORDS against a committed merge table).
 *
 * Semantics = standard BPE ENCODE against a learned merge list: process
 * merges in rank order, each merged exhaustively, occurrences taken
 * left-to-right non-overlapping. Rank-order-each-to-fixpoint is
 * equivalent to the classic "repeatedly merge the lowest-rank pair
 * present" loop because any pair involving a merge's OUTPUT symbol must
 * have been learned later (higher rank) — so by the time a merge runs,
 * nothing of lower rank can reappear. SubwordSpec property-tests this
 * equivalence against a classic-loop reference implementation.
 *
 * Execution shape: the document is framed as ·c·h·a·r·s· (every unit
 * wrapped in '·' sentinels — tokens are [a-z0-9]+ and words join on
 * spaces, so the sentinel can never occur in content and merges can
 * never jump a word boundary), then each merge (x, y) is `passes`
 * applications of replace("·x·y·", "·xy·"). One left-to-right replace
 * pass merges alternate occurrences of an x·y run (the trailing
 * sentinel of a match doubles as the leading sentinel of the next
 * occurrence, so the scan skips it); for x ≠ y the skipped x·y pair is
 * still adjacent on the next pass, so each pass at least halves what
 * remains and `passes` = 6 is exhaustive for runs up to 2^6 pairs —
 * far beyond any [a-z0-9]+ token the tokenizer emits. Same-symbol
 * merges (x == y) are REJECTED: in a run aaa… the skip orphans the
 * middle unit between two merged neighbours (·aa·a·aa·…), which no
 * later pass can repair, diverging from classic BPE's ⌊n/2⌋ doubles.
 * Expressing the needed one-sentinel lookahead requires regex features
 * DuckDB's RE2 oracle lacks, so a production merge file containing
 * (c, c) entries must pre-split same-symbol runs instead — a
 * documented limitation, enforced loudly rather than silently wrong.
 * Everything is a plain projection — no UDF, no shuffle, no
 * state; the whole chain stays inside whole-stage codegen and is
 * replayed verbatim by a relational oracle (replace() has identical
 * non-overlapping left-scan semantics in Spark and DuckDB).
 *
 * At 100 TB this is the right shape: encoding is embarrassingly
 * parallel per document, the merge table is a compile-time constant
 * (production: generate the chain from the released tokenizer's merge
 * file), and the column never leaves the scan stage.
 */
object Subword {

  /** A small English-biased merge table for the registered query — rank
    * order matters, values only need to be deterministic. Production use
    * generates this list from a tokenizer's committed merges.txt. */
  val defaultMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "o" -> "n",
    "e" -> "r", "r" -> "e", "o" -> "r", "s" -> "t", "in" -> "g",
    "a" -> "t", "e" -> "n")

  /** Frame `text` (already space-joined tokens) as sentinel-separated
    * units and apply the merge chain. Returns the encoded string, e.g.
    * "·th·in·g· ·a·" — consumers count or fingerprint it. */
  def encode(text: Column, merges: Seq[(String, String)],
             passes: Int = 6): Column = {
    require(passes > 0 && merges.nonEmpty, "subword: merges and passes")
    merges.foreach { case (x, y) =>
      require(!(x + y).contains("·") && !(x + y).contains(" "),
        s"merge symbols must not contain framing chars: ($x,$y)")
      require(x != y,
        s"same-symbol merge ($x,$y) unsupported: the shared-sentinel " +
          "left-scan orphans run middles (see Scaladoc); pre-split runs") }
    val framed = concat(lit("·"), regexp_replace(text, "(.)", "$1·"))
    merges.foldLeft(framed) { case (acc, (x, y)) =>
      (1 to passes).foldLeft(acc) { (c, _) =>
        replace(c, lit(s"·${x}·${y}·"), lit(s"·${x}${y}·"))
      }
    }
  }

  /** Subword units in the encoded string, space units excluded:
    * total units = sentinels - 1, space units = tokens - 1. */
  def unitCount(encoded: Column, nTokens: Column): Column = {
    val sentinels = length(encoded) -
      length(replace(encoded, lit("·"), lit("")))
    when(nTokens === 0, lit(0L))
      .otherwise((sentinels - 1 - (nTokens - 1)).cast("long"))
  }

  /** Learn the top-`nMerges` BPE merges from a word histogram by
    * iterated pair-count argmax — the other half of the tokenizer story
    * (`encode` applies a committed merge table; this derives one).
    *
    * `words` is the corpus collapsed to (word, count) — the ONE
    * corpus-sized step, a map-side-combinable groupBy the caller runs.
    * Every learning iteration then touches only that vocabulary-sized
    * table, exactly how production BPE trainers scale: frame each
    * distinct word as sentinel units, explode adjacent unit pairs
    * weighted by the word's count, take the argmax pair under the total
    * order (count DESC, x ASC, y ASC), and rewrite the histogram with
    * the winner via the same native replace chain `encode` uses. The
    * 1-row winner is BROADCAST into the rewrite (column-arg replace) —
    * never collected to the driver — and each iteration's histogram is
    * eagerly checkpointed (d10's label-propagation pattern) so the loop
    * is linear work, not a recomputed lineage chain. At 100 TB: one
    * histogram shuffle + nMerges vocabulary passes.
    *
    * Same-symbol pairs (x == y) are excluded from candidates — `encode`
    * rejects them (see its Scaladoc) and classic trainers special-case
    * run counting anyway. The tie-break is a total order over grouped
    * pairs, so the learned table is deterministic and a relational
    * oracle replays the whole loop verbatim. Returns one row per merge:
    * (rank, x, y, merged, cnt). */
  def learnMerges(words: DataFrame, wordCol: String, cntCol: String,
                  nMerges: Int, passes: Int = 6): DataFrame = {
    require(nMerges > 0 && passes > 0, "subword: nMerges and passes")
    var it = Materialize(words.select(
        concat(lit("·"), regexp_replace(col(wordCol), "(.)", "$1·"))
          .as("enc"),
        col(cntCol).cast("long").as("cnt")))
    val learned = (1 to nMerges).map { rank =>
      val u = split(trim(col("enc"), "·"), "·")
      // words of one unit carry no pairs; the filter also keeps the
      // sequence() bounds ascending (sequence(1, 0) would count DOWN)
      val top = Materialize(it.filter(size(u) >= 2)
        .select(col("cnt"), u.as("u"),
          explode(sequence(lit(1), size(u) - 1)).as("i"))
        .select(element_at(col("u"), col("i")).as("x"),
          element_at(col("u"), col("i") + 1).as("y"), col("cnt"))
        .filter(col("x") =!= col("y"))
        .groupBy(col("x"), col("y")).agg(sum(col("cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("x"), col("y")).limit(1)
        .select(lit(rank.toLong).as("rank"), col("x"), col("y"),
          concat(col("x"), col("y")).as("merged"), col("cnt")))
      val pat = concat(lit("·"), col("x"), lit("·"), col("y"), lit("·"))
      val rep = concat(lit("·"), col("merged"), lit("·"))
      it = Materialize(it.crossJoin(
          broadcast(top.select(col("x"), col("y"), col("merged"))))
        .select((1 to passes).foldLeft(col("enc"))((c, _) =>
          replace(c, pat, rep)).as("enc"), col("cnt")))
      top
    }
    learned.reduce(_.unionByName(_))
  }
}
