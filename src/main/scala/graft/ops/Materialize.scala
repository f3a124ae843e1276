package graft.ops

import org.apache.spark.sql.DataFrame

/** Compute a frame once for several consumers: the program's one
  * materialization of an intermediate, the engine analog of the
  * reference's CSV round-trip (`run.py:84-90`). Every site that reads an
  * intermediate more than once, or that must cut a lineage compounding
  * over loop iterations, goes through here.
  *
  * Policy, read from session state (no knob of its own):
  *  - a streaming frame passes through unchanged: it cannot checkpoint,
  *    and per micro-batch a repeated read covers one batch, not the
  *    corpus;
  *  - with a checkpoint dir set (`sparkContext.setCheckpointDir`), an
  *    eager reliable checkpoint: files under that dir, which survive
  *    executor loss, at the cost of one distributed write per call;
  *  - otherwise an eager `localCheckpoint`: blocks in the executors'
  *    block managers (spilled to local disk when storage memory runs
  *    out), with no copy.
  *
  * Both checkpoints truncate the LOGICAL plan to a scan of the
  * materialized rows, so an iterative caller's plan stays constant in
  * size per round (a `cache` truncates only the physical plan; the
  * logical tree keeps compounding and Catalyst re-canonicalizes it on
  * every action). The local blocks are weakly referenced: the
  * ContextCleaner reclaims them once no live plan reaches the returned
  * frame, where a `cache` would pin them in the CacheManager until
  * `clearCache`.
  *
  * Trade-off: a local checkpoint cannot be recomputed. Losing an
  * executor (or its blocks) fails the next job that reads the frame
  * ("Checkpoint block ... not found"), where an uncheckpointed plan
  * would recompute from lineage. A single-process `local[n]` run has no
  * such failure mode; a cluster deployment sets a checkpoint dir and
  * every site switches to the reliable policy.
  *
  * Footprint: the cost is the materialized frame itself. Most sites
  * materialize a table that is small next to its input (pair lists,
  * histograms, label tables), but [[Similarity.kmeans]] materializes its
  * whole working set, O(corpus) storage per fit: every fit iteration,
  * the seed read and the final assignment scan it, and recomputing it
  * per pass re-decodes the embeddings parquet each time (r19: e18
  * 23.6 -> 8.9 CPU-s at sf0.1). At 100 TB of embeddings that is a
  * 100 TB disk footprint per fit, the standard iterative-fit trade. */
object Materialize {
  def apply(df: DataFrame): DataFrame =
    if (df.isStreaming) df
    else if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
