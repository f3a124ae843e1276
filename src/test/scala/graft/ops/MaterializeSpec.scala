package graft.ops

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.SparkSpec

/** Pins [[Materialize]]: it is the only place the program materializes a
  * frame, and each branch of its policy behaves as its scaladoc says. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  /** The RDD a materialized frame's plan scans. */
  private def scanned(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .getOrElse(fail(s"no RDD scan in:\n${df.queryExecution.analyzed}"))

  private def rows(df: DataFrame): Seq[Long] =
    df.as[Long].collect().toSeq.sorted

  private val expected = (0L until 100L).map(_ * 3)
  private def source: DataFrame =
    spark.range(0, 100, 1, 4).select(($"id" * 3).as("v"))

  test("no file under src/main/scala but Materialize.scala materializes") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val call = """\.(localCheckpoint|checkpoint|cache|persist|unpersist)\b""".r
    val walk = Files.walk(root)
    val hits = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("graft/ops/Materialize.scala")))
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if call.findFirstIn(line).isDefined =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    finally walk.close()
    assert(hits.isEmpty, hits.mkString("direct materialization calls:\n",
      "\n", ""))
  }

  test("a streaming frame passes through unchanged") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val df = MemoryStream[Long].toDF()
    assert(df.isStreaming)
    assert(Materialize(df) eq df)
  }

  test("checkpoint dir set: files under it, same rows, no blocks to lose") {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "precondition: the suite session runs the local policy")
    val dir = Files.createTempDirectory("graft_materialize_ckpt")
    sc.setCheckpointDir(dir.toString)
    try {
      val m = Materialize(source)
      val walk = Files.walk(dir)
      val parts = try walk.iterator.asScala
        .count(_.getFileName.toString.startsWith("part-"))
      finally walk.close()
      assert(parts > 0, s"nothing written under $dir")
      assert(rows(m) == expected)
      // the same block removal that fails the local policy (below)
      // leaves a reliable checkpoint readable: its rows are in the files
      scanned(m).unpersist(blocking = true)
      assert(rows(m) == expected)
    } finally {
      // the shared SparkContext must leave this suite as it entered —
      // there is no public unset, so restore None reflectively
      val setter = sc.getClass.getMethods
        .find(_.getName == "checkpointDir_$eq").get
      setter.invoke(sc, None)
      rmTree(dir.toFile)
    }
  }

  test("local policy: losing the checkpoint blocks fails the next job") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "precondition: the suite session runs the local policy")
    val m = Materialize(source)
    assert(rows(m) == expected)
    scanned(m).unpersist(blocking = true)
    val e = intercept[Exception](m.count())
    assert(e.getMessage.contains("Checkpoint block"), e.getMessage)
  }
}
