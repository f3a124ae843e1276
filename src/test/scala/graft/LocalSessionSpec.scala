package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The shared test session comes from [[LocalSession]], so these pin the
  * factory's config set, and that no main builds a session around it. */
class LocalSessionSpec extends SparkSpec {

  test("factory session: local[2], UTC, 2 shuffle partitions, UI off, AQE on") {
    assert(spark.sparkContext.master == "local[2]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("factory session: the warehouse dir sits under java.io.tmpdir") {
    val warehouse = Paths.get(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath).normalize
    val tmp = Paths.get(sys.props("java.io.tmpdir")).toAbsolutePath.normalize
    assert(warehouse.startsWith(tmp), s"$warehouse is not under $tmp")
  }

  test("exactly one SparkSession.builder call under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val walk = Files.walk(root)
    val hits = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") =>
            s"$f:${i + 1}"
        }
      }.toList
    finally walk.close()
    assert(hits.size == 1, hits.mkString("builders: ", ", ", ""))
    assert(hits.head.startsWith(root.resolve("graft/LocalSession.scala")
      .toString), hits.head)
  }
}
