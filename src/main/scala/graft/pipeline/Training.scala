package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.regression.GBTRegressor
import graft.ops.Materialize

/**
 * §3.3 training lifecycle — the engine analog of the reference's CatBoost
 * cross-validated fit (`training.ipynb cell16`: `cv(pool, fold_count=10,
 * shuffle=True, stratified=True, partition_random_seed=0)` then
 * `model_cb.fit(train_pool)` in cell17).
 *
 * The reference trains a CatBoost classifier; the engine's parity path is
 * Spark ML's GBT (the same additive-tree family) bridged through
 * [[TreeEnsembleModel.fromSparkML]] into the committed-artifact format the
 * serving side already scores relationally — train → commit → serve with
 * no MLlib dependency at inference time. Hyperparameters mirror the
 * notebook's shape (depth 3, learning rate 0.01); iteration count is a
 * parameter because 750 CatBoost iterations is a GPU-day knob, not a
 * correctness semantic.
 *
 * Everything EXCEPT the fit itself is relational and DuckDB-replayable:
 * - [[stratifiedFolds]]: content-addressed shuffle + round-robin deal
 *   within each label stratum — the deterministic twin of CatBoost's
 *   `stratified=True, shuffle=True, partition_random_seed=0` (registry row
 *   q88 hash-checks it).
 * - [[rankSumAuc]]: the Mann–Whitney rank-sum AUC with average-rank tie
 *   correction — exactly what `roc_auc_score` computes (registry row q89
 *   hash-checks it per fold). Ranks are integers and tie counts halves, so
 *   every intermediate is double-exact and the final ratio is bit-stable
 *   across engines.
 *
 * Scale: fold assignment is one row_number window per label stratum (the
 *   same per-key shuffle shape as every sequence op); the AUC is one
 *   rank window per fold + one aggregate. The FIT holds the per-fold
 *   feature matrix (users × a dozen features) — the reference's own
 *   training scale is 3k users; at 100 TB of events the matrix is still
 *   only O(users) rows and Spark ML's GBT distributes over it.
 */
object Training {

  /** Deterministic stratified k-fold assignment: within each label
    * stratum, rows are ordered by a content-addressed md5 draw (salted so
    * different CV runs get independent shuffles — the analog of
    * `partition_random_seed`) and dealt round-robin. Per-stratum fold
    * sizes differ by ≤1, so class balance per fold is as even as k allows
    * — the definition of stratified CV. Replays bit-for-bit in any engine
    * with md5 (q88's oracle). */
  def stratifiedFolds(df: DataFrame, idCol: String, labelCol: String,
                      k: Int, salt: String,
                      foldCol: String = "fold"): DataFrame = {
    val draw = md5(concat_ws("#", lit(salt), col(idCol)))
    val w = Window.partitionBy(col(labelCol)).orderBy(draw, col(idCol))
    df.withColumn(foldCol, ((row_number().over(w) - 1) % k).cast("long"))
  }

  /** The DuckDB twin of [[stratifiedFolds]]'s fold expression, over a
    * relation exposing `idSql` and `labelSql`. */
  def stratifiedFoldsSql(idSql: String, labelSql: String, k: Int,
                         salt: String): String =
    s"((row_number() OVER (PARTITION BY $labelSql ORDER BY " +
      s"md5('$salt' || '#' || ($idSql)::VARCHAR), $idSql) - 1) % $k)::BIGINT"

  /** Mann–Whitney rank-sum AUC per group (sklearn `roc_auc_score`
    * semantics, `training.ipynb cell5:L27`): ranks ascending by score with
    * average-rank tie correction, AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺·n⁻).
    * NULL when a group has a single class (undefined, as sklearn raises).
    * Output: groupCols ++ (n_pos, n_neg, auc). */
  def rankSumAuc(df: DataFrame, scoreCol: Column, labelCol: Column,
                 groupCols: Seq[String]): DataFrame = {
    val g = groupCols.map(col)
    val wRank = Window.partitionBy(g: _*).orderBy(scoreCol)
    val wTies = Window.partitionBy(g :+ scoreCol: _*)
    val avgRank = rank().over(wRank) + (count(lit(1)).over(wTies) - 1) / 2.0
    df.withColumn("_r", avgRank).withColumn("_y", labelCol)
      .groupBy(g: _*)
      .agg(
        sum(when(col("_y") === 1, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("_y") === 0, 1L).otherwise(0L)).as("n_neg"),
        sum(when(col("_y") === 1, col("_r")).otherwise(lit(0.0))).as("_rp"))
      .withColumn("auc",
        when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise((col("_rp") - col("n_pos") * (col("n_pos") + 1) / 2.0)
            / (col("n_pos") * col("n_neg"))))
      .drop("_rp")
  }

  /** The DuckDB twin of [[rankSumAuc]] as a two-CTE SQL fragment over a
    * relation `rel` with columns groupCol, score, label. Emits
    * (groupCol, n_pos, n_neg, auc) with auc rounded to `roundTo`. */
  def rankSumAucSql(rel: String, groupCol: String,
                    roundTo: Int = 6): String =
    s"""ranked AS (SELECT $groupCol, label,
      |  rank() OVER (PARTITION BY $groupCol ORDER BY score)
      |    + (count(*) OVER (PARTITION BY $groupCol, score) - 1) / 2.0 AS r
      |  FROM $rel),
      |aucs AS (SELECT $groupCol,
      |  (count(*) FILTER (WHERE label = 1))::BIGINT AS n_pos,
      |  (count(*) FILTER (WHERE label = 0))::BIGINT AS n_neg,
      |  sum(CASE WHEN label = 1 THEN r ELSE 0 END) AS rp
      |  FROM ranked GROUP BY $groupCol)
      |SELECT $groupCol, n_pos, n_neg,
      |  round(CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
      |    ELSE (rp - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg) END,
      |    $roundTo) AS auc
      |FROM aucs""".stripMargin

  /** One GBT fit on an aligned feature matrix (featureNames columns +
    * labelCol), bridged to the relational [[TreeEnsembleModel]] form.
    * GBTRegressor on the 0/1 label = least-squares gradient boosting; its
    * prediction is exactly the weighted tree sum the bridge reproduces
    * (PipelineSpec proves the bit-parity). Depth/LR mirror the notebook's
    * CatBoost params (`max_depth: 3, learning_rate: 0.01`). */
  def fitGbt(train: DataFrame, featureNames: Seq[String], labelCol: String,
             iterations: Int, seed: Long = 56L,
             learningRate: Double = 0.01): TreeEnsembleModel = {
    val assembled = new VectorAssembler()
      .setInputCols(featureNames.toArray).setOutputCol("features")
      .transform(train)
    val ml = new GBTRegressor().setMaxDepth(3).setMaxIter(iterations)
      .setStepSize(learningRate).setSeed(seed)
      .setLabelCol(labelCol).setFeaturesCol("features")
      .fit(assembled)
    TreeEnsembleModel.fromSparkML(ml.trees.toSeq, ml.treeWeights.toSeq,
      featureNames)
  }

  /** Per-fold CV scores: holds out each fold in turn, fits on the rest,
    * scores the held-out fold with the BRIDGED model (so what CV measures
    * is exactly what serving runs). Input must carry foldCol; returns
    * (foldCol, idCol, labelCol, target) for all rows — feed to
    * [[rankSumAuc]] grouped by fold for the notebook's `test-AUC` table.
    * The matrix is materialized once, and backs both the k fits and the
    * returned held-out scores. */
  def cvScores(matrix: DataFrame, featureNames: Seq[String], idCol: String,
               labelCol: String, foldCol: String, k: Int,
               iterations: Int): DataFrame = {
    val mat = Materialize(matrix)
    (0 until k).map { f =>
      val m = fitGbt(mat.filter(col(foldCol) =!= f), featureNames,
        labelCol, iterations)
      TreeEnsembleScorer(m).score(mat.filter(col(foldCol) === f))
        .select(col(foldCol), col(idCol), col(labelCol), col("target"))
    }.reduce(_ unionAll _)
  }
}
