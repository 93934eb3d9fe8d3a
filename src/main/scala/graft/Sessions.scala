package graft

import org.apache.spark.sql.SparkSession

/** Session construction ([[local]]) and hygiene ([[sweep]]) for
  * sessions running graft operators.
  *
  * Several builders `cache()` intermediates that their RETURNED (lazy)
  * frame still references (`UserSimilarity.featurize`'s tokenized
  * corpus, the relational TF-IDF weight matrix, `DedupQueries`'
  * shingle/signature frames) — they cannot unpersist before returning
  * because the caller hasn't executed the plan yet. The iterative
  * operators (`Dedup.connectedComponents`, `ops.Graph`) additionally
  * leave `localCheckpoint` blocks, which live OUTSIDE the SQL cache
  * manager: `spark.catalog.clearCache()` never touches them, and they
  * otherwise linger until a GC happens to run the ContextCleaner —
  * measured as the prime suspect for 5-12× late-suite inflation in this
  * repo's own bench history (Bench.scala's per-query hygiene notes).
  *
  * [[sweep]] is that hygiene as API: call it after MATERIALIZING a
  * result you are done with (collect/write), not between building and
  * executing a plan — sweeping a cache a still-lazy frame references
  * just forfeits the reuse the builder paid for. One-shot jobs can skip
  * it; the caches die with the session.
  */
object Sessions {

  /** Drop every SQL-cached plan AND every persistent RDD block
    * (including `localCheckpoint` blocks) of the session. Non-blocking:
    * block deletion is queued to the BlockManager; the storage memory is
    * reclaimable immediately for new allocations. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
  }

  /** The local session every main and the test suites run on: `cores`
    * threads, `spark.sql.shuffle.partitions` = `cores` (so every round
    * loop's [[graft.ops.Rounds.partitioner]] is as wide as the cores),
    * AQE on, session time zone UTC, no UI, log level WARN. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
