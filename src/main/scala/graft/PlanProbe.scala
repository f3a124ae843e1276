package graft

/** Join-strategy probe for a registered query at one or more scale
  * dirs: executes the query (noop sink, so AQE's runtime re-plan is
  * what gets counted) and prints the physical join mix. Built for the
  * r18 s24/s25 decade decomposition, where the decade-2 shuffle-byte
  * jump turned out to be the broadcast→sort-merge transition (the
  * tower side crossing spark.sql.autoBroadcastJoinThreshold), i.e. a
  * one-time plan shift, not super-linear data growth — exactly the
  * distinction this probe exists to make cheap to check.
  *
  * Usage: runMain graft.PlanProbe <queryName> <sfDir> [sfDir...] */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val s = LocalSession.build()
    for (d <- args.drop(1)) {
      val df = SparkEntry.queries(args(0))(s, d)
      df.write.format("noop").mode("overwrite").save()
      val plan = df.queryExecution.executedPlan.toString
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).size
      val smj = "SortMergeJoin".r.findAllIn(plan).size
      val shj = "ShuffledHashJoin".r.findAllIn(plan).size
      println(s"PLANPROBE ${args(0)} $d broadcast=$bhj sortmerge=$smj shuffledhash=$shj")
    }
    s.stop()
  }
}
