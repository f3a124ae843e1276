package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._

/**
 * End-to-end pipeline assembly (reference `run.py` §3.1): adversarial
 * cleaning → defense trims/filters → per-user feature matrix (J2) → pluggable
 * scorer → submission with max-score fallback for users the cleaning dropped
 * (J3/J4/U1) → ordered sink (O1).
 *
 * Where the reference writes the cleaned table to CSV and re-reads it twice
 * (`run.py:84-90`, operator S3), [[submission]] materializes the one frame
 * that several consumers read, the scored users ([[Materialize]]); the
 * stages below it run once, as one lazy Catalyst plan. All per-user stages
 * are co-partitioned on the user key, so the exchange introduced by the
 * first groupBy is reused by every later join/window.
 */
object Pipeline {

  /** Cleaning + defense config (reference constants `run.py:25-26,196,201`). */
  case class Config(nAmt: Int = 10, nMcc: Int = 10, trimN: Int = 20,
                    dropCodes: Seq[String] = Nil)

  /** Repair (W6/W7) → head/tail trim (W1) → anti-value code filter (P3).
    * Column contract: `user`/`code`/`amt` plus `ord` event-order columns. */
  def clean(df: DataFrame, user: String, code: String, amt: String,
            ord: Seq[Column], cfg: Config): DataFrame = {
    val repaired = Repair(df, user, code, amt, cfg.nAmt, cfg.nMcc)
    val trimmed = Trim.headTail(repaired, cfg.trimN, Seq(user), ord)
    if (cfg.dropCodes.isEmpty) trimmed
    else trimmed.filter(!col(code).isin(cfg.dropCodes: _*))
  }

  /** J2: per-user feature matrix — pivot counts + pivot sums + group stats,
    * outer-joined on the user key and zero-filled. */
  def featureMatrix(cleaned: DataFrame, user: String, code: String,
                    amt: String, timeAttr: Column,
                    vocab: Seq[String]): DataFrame = {
    val freq = Pivots.pivotCount(cleaned, user, code, vocab, amt, "freq")
    val proc = Pivots.pivotSum(cleaned, user, code, vocab, amt, "proc")
    val st = GroupStats.stats(
      cleaned.withColumn("_t", timeAttr), Seq(user), "_t", "td")
      .select(col(user), col("td_mean"), col("td_std"))
    freq.join(proc, Seq(user), "outer")
      .join(st, Seq(user), "outer")
      .na.fill(0.0)
  }

  /** Fused single-pass feature matrix: same output as [[featureMatrix]] but
    * every family (pivot counts, pivot sums, time stats) is computed in ONE
    * groupBy(user) aggregation — one shuffle total instead of three
    * aggregates plus two joins. This is SURVEY.md §4.3's "pivot fusion"
    * delivered at the API level: the reference's 10 pivot jobs re-scanned
    * the input 10 times (`run.py:238-424`); the J2 join shape (featureMatrix)
    * replays its 20-way join; this is the plan you actually want at 100 TB.
    * Column order matches featureMatrix. */
  def featureMatrixFused(cleaned: DataFrame, user: String, code: String,
                         amt: String, timeAttr: Column,
                         vocab: Seq[String]): DataFrame = {
    val t = timeAttr.cast("double")
    val n = count(t).cast("double")
    val aggs =
      vocab.map(v => count(when(col(code) === v, col(amt))).as(s"freq_$v")) ++
      vocab.map(v => coalesce(sum(when(col(code) === v, col(amt))), lit(0.0))
        .as(s"proc_$v")) ++
      Seq(avg(t).as("td_mean"),
        coalesce(when(n >= 2, stddev_samp(t)), lit(0.0)).as("td_std"))
    cleaned.groupBy(col(user)).agg(aggs.head, aggs.tail: _*)
  }

  /** P12: align to the model's demanded feature list — add zero columns for
    * anything absent, project in model order (`run.py:470-474`). */
  def alignFeatures(df: DataFrame, user: String,
                    modelCols: Seq[String]): DataFrame = {
    val withAll = modelCols.foldLeft(df)((d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(0.0)))
    withAll.select((user +: modelCols).map(col): _*)
  }

  /** Score + fallback: users present in `allUsers` but dropped during
    * cleaning re-enter with the maximum score (`run.py:480-486`). */
  def submission(features: DataFrame, scorer: Scorer, allUsers: DataFrame,
                 user: String): DataFrame = {
    // read three times: the result, the left-anti join and the max score
    val scored = Materialize(
      scorer.score(features).select(col(user), col("target")))
    val vanished = allUsers.select(col(user)).distinct()
      .join(scored.select(col(user)), Seq(user), "left_anti")
    val fallback = vanished.crossJoin(
      broadcast(scored.agg(max(col("target")).as("target"))))
    scored.unionByName(fallback).orderBy(col(user))
  }
}
