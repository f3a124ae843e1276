package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Submit}
import graft.ops.{Bucketize, Sequences, TimeFeatures}
import graft.pipeline.{Pipeline, Scorer, SequenceModel, SequenceScorer,
  TreeEnsembleModel, TreeEnsembleScorer}
import graft.schema.Tables

/** One benchmark workload. `job` runs the program's own entry point, as a
  * user would; `tracedJob` runs the same layers one call at a time, each
  * inside a span, so their cost can be attributed. */
trait Workload {
  def job(out: String): Unit
  /** The process's first job: `job`, unless the workload's outputs are
    * only checkable from a different sink (the registry's). */
  def coldJob(out: String): Unit = job(out)
  def tracedJob(out: String, tr: Tracer): Unit
}

object Workload {
  /** Builds the workload and parses its artifacts (part of set-up). */
  def apply(name: String, spark: SparkSession, input: String,
            model: String, rows: Seq[String]): Workload = name match {
    case "submit_tree" => new SubmitTree(spark, input,
      TreeEnsembleModel.fromFile(model))
    case "submit_rnn" => new SubmitRnn(spark, input,
      SequenceModel.fromResource("/graft/seq_model_tx.txt.gz"))
    case "registry_heavy" => new RegistryHeavy(spark, input, rows)
    case other => throw new IllegalArgumentException(
      s"unknown workload: $other")
  }
}

/** A frame that already carries `target`: lets the benchmark time
  * scoring and `Pipeline.submission` as separate layers. */
private object Prescored extends Scorer {
  override def score(features: DataFrame): DataFrame = features
}

/** `graft.Submit in.csv out.csv model.txt`: the tree branch. */
final class SubmitTree(spark: SparkSession, input: String,
                       model: TreeEnsembleModel) extends Workload {
  private val csv = s"$input/transactions.csv"

  def job(out: String): Unit =
    Tables.writeCsv(Submit.run(spark, csv, model), out, singleFile = true)

  // Mirrors Submit.run / Submit.treePrelude call for call; the harness
  // checks that the traced output equals the untraced one.
  def tracedJob(out: String, tr: Tracer): Unit = tr.job("submit_tree") {
    val tx = tr.layer("schema.read")(Tables.readTransactionsCsv(spark, csv))
    val in = tx.select(col("user_id"),
      col("mcc_code").cast("string").as("code"),
      col("transaction_amt").as("amt"),
      col("transaction_dttm").as("ts"))
    val vocab = model.featureNames.collect {
      case f if f.startsWith("freq_") => f.stripPrefix("freq_")
    }
    val cleaned = tr.layer("pipeline.clean")(
      Pipeline.clean(in, "user_id", "code", "amt", Seq(col("ts")),
        Pipeline.Config(nAmt = 10, nMcc = 10, trimN = 20,
          dropCodes = Submit.DefaultDropCodes)))
    val aligned = tr.layer("pipeline.features")(Pipeline.alignFeatures(
      Pipeline.featureMatrixFused(cleaned, "user_id", "code", "amt",
        TimeFeatures.secondsSinceMidnight(col("ts")), vocab),
      "user_id", model.featureNames))
    val scored = tr.layer("pipeline.score")(TreeEnsembleScorer(model)
      .score(aligned).select(col("user_id"), col("target")))
    val result = tr.layer("pipeline.submission")(
      Pipeline.submission(scored, Prescored, in, "user_id"))
    tr.span("schema.write")(Tables.writeCsv(result, out, singleFile = true))
    tr.rows(result.count())
  }

  /** The same job as one DuckDB query over a view `events(event_id,
    * user_id, ts, event_type, value)` of the CSV: q39's oracle CTEs with
    * Submit's constants (trim 20, drop 6012, the model's vocabulary) and
    * the model's own SQL form. */
  def replaySql: String = {
    val sec = "hour(ts)*3600 + minute(ts)*60 + second(ts)"
    val vocab = model.featureNames.collect {
      case f if f.startsWith("freq_") => f.stripPrefix("freq_")
    }
    val drop = Submit.DefaultDropCodes.map(c => s"'$c'").mkString(", ")
    s"""WITH ${graft.Queries.repairCtesSql},
      |trm AS (SELECT * FROM (SELECT rep.*,
      |   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |     AS rn,
      |   count(*) OVER (PARTITION BY user_id) AS cnt FROM rep)
      |  WHERE rn > 20 AND rn <= cnt - 20),
      |kept AS (SELECT * FROM trm WHERE code NOT IN ($drop)),
      |feat AS (SELECT user_id,
      |  ${vocab.map(v => s"count(amt) FILTER (WHERE code = '$v') AS \"freq_$v\"").mkString(", ")},
      |  ${vocab.map(v => s"COALESCE(sum(amt) FILTER (WHERE code = '$v'), 0) AS \"proc_$v\"").mkString(", ")},
      |  avg($sec) AS td_mean, COALESCE(stddev_samp($sec), 0) AS td_std
      |  FROM kept GROUP BY user_id),
      |scored AS (SELECT user_id, round(${model.toSql(f => s"\"$f\"")}, 6) AS target
      |  FROM feat),
      |v AS (SELECT DISTINCT user_id FROM events
      |      EXCEPT SELECT user_id FROM scored)
      |SELECT user_id, target FROM scored
      |UNION ALL SELECT user_id, (SELECT max(target) FROM scored) FROM v
      |ORDER BY user_id""".stripMargin
  }
}

/** `graft.Submit in.csv out.csv seq_model_tx.txt.gz`: the RNN branch. */
final class SubmitRnn(spark: SparkSession, input: String,
                      model: SequenceModel) extends Workload {
  private val csv = s"$input/transactions.csv"

  def job(out: String): Unit =
    Tables.writeCsv(Submit.runSeq(spark, csv, model), out, singleFile = true)

  // Mirrors Submit.runSeq call for call.
  def tracedJob(out: String, tr: Tracer): Unit = tr.job("submit_rnn") {
    val tx = tr.layer("schema.read")(Tables.readTransactionsCsv(spark, csv))
    val seqs = tr.layer("pipeline.features") {
      val withAttrs = tx.na.drop()
        .withColumn("hour", hour(col("transaction_dttm")))
        .withColumn("day", TimeFeatures.dayOfWeekMon0(col("transaction_dttm")))
        .withColumn("month", month(col("transaction_dttm")))
        .withColumn("number_day", dayofmonth(col("transaction_dttm")))
      val digitized = model.features.foldLeft(withAttrs) { (df, f) =>
        model.edges.get(f) match {
          case Some(e) => df.withColumn(f,
            coalesce(Bucketize(col(f).cast("double"), e.toSeq), lit(0))
              .cast("int"))
          case None => df.withColumn(f, col(f).cast("int"))
        }
      }
      Sequences.assembleSequences(digitized, model.seqLen, Seq("user_id"),
        struct(col("transaction_dttm")), model.features, padLeft = false)
    }
    val scored = tr.layer("pipeline.score")(SequenceScorer(model)
      .score(seqs).select(col("user_id"), col("target")))
    val result = tr.layer("pipeline.submission")(
      Pipeline.submission(scored, Prescored, tx, "user_id"))
    tr.span("schema.write")(Tables.writeCsv(result, out, singleFile = true))
    tr.rows(result.count())
  }
}

/** A fixed list of registry rows, each run through the `noop` sink. */
final class RegistryHeavy(spark: SparkSession, input: String,
                          val rows: Seq[String]) extends Workload {
  private val queries = SparkEntry.queries
  private val fns = rows.map(id => id -> queries(id))

  /** Persistent RDDs the rows of the last job created and left behind. */
  var leftBlocks: Long = 0L
  /** Rows of the last job that threw, with the exception text. */
  var failures: Seq[(String, String)] = Nil

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  def job(out: String): Unit =
    run((_, df) => df.write.format("noop").mode("overwrite").save())

  /** Writes each row's output as parquet under `out`, for the oracle
    * check; the outputs are a few hundred rows, so the sink costs about
    * what the noop sink does. */
  override def coldJob(out: String): Unit =
    run((id, df) => df.write.mode("overwrite").parquet(s"$out/$id"))

  private def run(sink: (String, DataFrame) => Unit): Unit = {
    leftBlocks = 0L
    failures = fns.flatMap { case (id, fn) =>
      val before = persistent
      val failure =
        try { sink(id, fn(spark, input)); None }
        catch { case e: Exception => Some(id -> e.toString) }
      leftBlocks += (persistent -- before).size
      failure
    }
  }

  def tracedJob(out: String, tr: Tracer): Unit = tr.job("registry_heavy") {
    fns.foreach { case (id, fn) =>
      tr.layer(s"registry.$id")(fn(spark, input))
    }
  }

  def oracleSql: Map[String, String] =
    SparkEntry.oracleSql.filter { case (id, _) => fns.exists(_._1 == id) }
}
