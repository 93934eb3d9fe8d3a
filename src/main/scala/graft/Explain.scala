package graft

/** Dev tool: print the formatted physical plan of one or more registered
  * queries (all of them with no args) — the SURVEY §4 checklist: filters
  * reach the scan (PushedFilters), projections prune (ReadSchema), small
  * dims broadcast, codegen spans are wide.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================= $n =================")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
