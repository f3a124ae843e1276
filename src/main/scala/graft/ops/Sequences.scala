package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * W2-W5 + E2: per-group ordered-sequence operators
 * (reference `run.py:110-126`, `model.py:185-196`).
 *
 * The reference does all of this in an O(users) Python loop slicing one
 * DataFrame per user; here each op is a single Window/groupBy over
 * `partitionBy(user)` — one shuffle, co-partitioned with every other
 * per-user stage, so Catalyst reuses the exchange across the pipeline.
 */
object Sequences {

  private def w(partCols: Seq[String], orderCols: Seq[Column]) =
    Window.partitionBy(partCols.map(col): _*).orderBy(orderCols: _*)

  private def wFull(partCols: Seq[String]) =
    Window.partitionBy(partCols.map(col): _*)

  /** W3: running (cumulative) sum in event order (`run.py:116-118`). */
  def cumSum(c: Column, partCols: Seq[String], orderCols: Seq[Column]): Column =
    sum(c).over(w(partCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** W4: rebase to the group's first value in event order
    * (`timediff - timediff.iloc[0]`, `run.py:120`). */
  def rebaseToFirst(c: Column, partCols: Seq[String], orderCols: Seq[Column]): Column =
    c - first(c).over(w(partCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** W5: per-group z-score with POPULATION std (sklearn StandardScaler,
    * ddof=0, `run.py:113-115`); sklearn maps sigma=0 to divide-by-1, and the
    * numerator is 0 there, so zero-variance groups z-score to 0. */
  def zScorePop(c: Column, partCols: Seq[String]): Column = {
    val full = wFull(partCols)
    val sd = stddev_pop(c).over(full)
    when(sd === 0 || sd.isNull, lit(0.0)).otherwise((c - avg(c).over(full)) / sd)
  }

  /** W2 (relational form): keep the last `n` rows of each group in event
    * order (`model.py:185-191` keeps the last 300 transactions). Emits
    * `posCol` = 1 for the newest row, n for the oldest kept. */
  def lastN(df: DataFrame, n: Int, partCols: Seq[String],
            orderCols: Seq[Column], posCol: String = "pos"): DataFrame = {
    val wDesc = w(partCols, orderCols.map(_.desc))
    df.withColumn(posCol, row_number().over(wDesc)).filter(col(posCol) <= n)
  }

  /** Token-budget sequence packing: assign each document of a shard to a
    * pack so that consecutive documents (in `orderCols` order) accumulate
    * until the running token total crosses `budget` — the streaming
    * greedy-packing shape LLM training pipelines use to fill fixed-length
    * context windows. pack_id = floor((cumsum(size) - 1) / budget): a
    * document that lands exactly on the boundary finishes its pack.
    * One window per shard — the same per-key shuffle every other
    * per-group stage uses; oversized single documents (> budget) occupy
    * packs alone without stalling the assignment. */
  def packByBudget(df: DataFrame, shardCols: Seq[String],
                   orderCols: Seq[Column], sizeCol: Column, budget: Int,
                   packCol: String = "pack_id"): DataFrame = {
    val cum = sum(sizeCol).over(w(shardCols, orderCols)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    df.withColumn(packCol, floor((cum - 1) / budget).cast("long"))
  }

  /** GLOBAL running sum over a total order — `sum() OVER (ORDER BY ...)`
    * without dragging the whole table into one task. Classic two-pass
    * distributed prefix sum: range-repartition on the order key, local
    * cumsum per partition (a window PARTITIONED by partition id — bounded
    * by partition size), and each partition's starting offset comes from a
    * partition-count-sized table broadcast back. Values are independent of
    * where the (sampled, nondeterministic) range boundaries land, so
    * results are exact and reproducible as long as `orderCol` is a total
    * order. Use integer `valueCol` for cross-engine exactness. */
  def globalCumsum(df: DataFrame, orderCol: String, valueCol: Column,
                   outCol: String, partitions: Int = 32): DataFrame = {
    // freeze the pid assignment: the offsets table and the re-join must
    // see the SAME partitioning of the same rows
    val parts = Materialize(df
      .repartitionByRange(partitions, col(orderCol))
      .withColumn("_pid", spark_partition_id()))
    val offs = parts.groupBy(col("_pid")).agg(sum(valueCol).as("_ps"))
      .withColumn("_off", coalesce(
        sum(col("_ps")).over(Window.orderBy(col("_pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("_pid"), col("_off"))
    val local = sum(valueCol).over(Window.partitionBy(col("_pid"))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    parts.join(broadcast(offs), Seq("_pid"))
      .withColumn(outCol, (local + col("_off")).cast("long"))
      .drop("_pid", "_off")
  }

  /** W2+E2 (tensor form): per group, the last `n` events as a time-ordered
    * array of feature vectors, padded with zero vectors to exactly `n`.
    * One groupBy + array ops; no per-user driver loop.
    * `padLeft = true` (q17's contract) prepends the padding; the
    * reference's `process_for_nn` APPENDS it (`model.py:193`:
    * `list(i) + [0] * (num - len)`) — the RNN-parity path passes
    * `padLeft = false`. Output: partCols ++ (seqCol:
    * array<array<double>>). */
  def assembleSequences(df: DataFrame, n: Int, partCols: Seq[String],
                        orderCol: Column, featureCols: Seq[String],
                        seqCol: String = "seq",
                        padLeft: Boolean = true): DataFrame = {
    val features = array(featureCols.map(c => col(c).cast("double")): _*)
    val grouped = df
      .select(partCols.map(col) :+
        struct(orderCol.as("_o"), features.as("_f")).as("_row"): _*)
      .groupBy(partCols.map(col): _*)
      .agg(collect_list(col("_row")).as("_rows"))
    val ordered = transform(array_sort(col("_rows")), r => r.getField("_f"))
    // Python's arr[-n:] keeps everything when len < n; Spark's
    // slice(arr, -n, n) returns EMPTY there — clamp the start index.
    val lastSlice = slice(ordered,
      greatest(size(ordered) - (n - 1), lit(1)), lit(n))
    val zeroVec = array(featureCols.map(_ => lit(0.0)): _*)
    val pad = array_repeat(zeroVec, lit(n) - size(lastSlice))
    val padded = if (padLeft) concat(pad, lastSlice) else concat(lastSlice, pad)
    grouped.withColumn(seqCol, padded).drop("_rows")
  }
}
