package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** One recorded span: a layer call made by the benchmark. `parent` is the
  * id of the enclosing span (-1 for a job root); all spans of one job share
  * `job`. Counters are the engine work done while the span was open. */
final case class Span(id: Int, parent: Int, job: Int, name: String,
                      startNs: Long, endNs: Long, work: Snapshot,
                      rowsOut: Long)

/** Records spans in memory around the benchmark's calls into each layer.
  * A layer's DataFrame is forced at the boundary (local checkpoint), so
  * the lazy plan's work lands in the span of the layer that defined it;
  * the next layer reads the materialized rows. */
final class Tracer(acct: Accounting) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  private var jobNo = -1
  private val forced = ArrayBuffer.empty[DataFrame]

  /** Open a job root span; layers called inside are its children. The
    * job's checkpoints are released when it ends. */
  def job(name: String)(body: => Unit): Unit = {
    jobNo += 1
    try span(name)(body)
    finally {
      forced.foreach(_.queryExecution.analyzed.collect {
        case l: LogicalRDD => l.rdd.unpersist(blocking = true)
      })
      forced.clear()
    }
  }

  /** A span around `body`; its rows_out is unknown (-1). */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val before = acct.snapshot()
    acct.resetPeak()
    val t0 = System.nanoTime()
    val out = try body finally stack = stack.tail
    val t1 = System.nanoTime()
    val work = acct.snapshot() - before
    spans += Span(id, parent, jobNo, name, t0, t1, work, -1L)
    out
  }

  /** A layer that produces a DataFrame: the frame is materialized inside
    * the span, and counted after it closes. */
  def layer(name: String)(body: => DataFrame): DataFrame = {
    val cp = span(name)(body.localCheckpoint(eager = true))
    forced += cp
    rows(cp.count())
    cp
  }

  /** Records `n` as the rows_out of the span that closed last. */
  def rows(n: Long): Unit = spans(spans.length - 1) = spans.last.copy(rowsOut = n)

  /** Span duration minus the part of it covered by its direct children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = a max end
      if (b > from) covered += b - from
      end = end max b
    }
    ((s.endNs - s.startNs) - covered) / 1e9
  }
}
