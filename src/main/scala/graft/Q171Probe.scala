package graft

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool (r22, VERDICT item 4): A/B the q171 keyed-dedup reduction.
  *
  * `dropDuplicates(key)` plans `first(...)` aggregates over the non-key
  * columns; string buffers aren't hash-supported, so the whole aggregate
  * falls to SortAggregate (a per-partition sort of the feed at scale).
  * The candidate replacement is the repo's proven typed-Aggregator
  * pattern (q263 TripletPick, KMeans.ArgMin): `groupByKey(key).reduceGroups
  * ((a, _) => a)` keeps whole rows in an ObjectHashAggregate with
  * map-side combine — no sort, but per-row object serialization both
  * ways across the typed boundary.
  *
  * Both forms compute a VALID dropDuplicates result (any survivor per
  * key; q171's feed redeliveries are exact copies, so outputs are
  * identical rows). This probe times both on the real q171 feed and
  * prints min-of-5 lines; the operator itself changes only on a
  * measured win (guide §1.2).
  *
  * Usage: runMain graft.Q171Probe [sfDir]
  */
object Q171Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def feed = {
      val ev = graft.queries.Tables(spark, sfDir, "events")
      ev.unionAll(ev.filter(col("event_id") % 97 === 0))
    }
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_id"), unix_micros(col("ts")).as("us"),
        col("user_id"), col("event_type"), col("value"))
      .orderBy(col("event_id"))

    def sortAggForm = shape(feed.dropDuplicates(Seq("event_id")))
    def typedForm = {
      val f = feed
      val enc = Encoders.row(f.schema)
      shape(f.groupByKey(r => r.getLong(r.fieldIndex("event_id")))(Encoders.scalaLong)
        .reduceGroups((a, _) => a)
        .map(_._2)(enc))
    }

    println("=== plan: dropDuplicates form ===")
    sortAggForm.explain("formatted")
    println("=== plan: typed reduceGroups form ===")
    typedForm.explain("formatted")

    def bench(label: String, mk: () => org.apache.spark.sql.DataFrame): Unit = {
      // one warmup, then min-of-5
      mk().write.format("noop").mode("overwrite").save()
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime()
        mk().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"q171_probe: $label min=${ts.min}%.3f " +
        f"runs=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    // interleave to keep session drift symmetric
    bench("dropDuplicates", () => sortAggForm)
    bench("typedReduce", () => typedForm)
    bench("dropDuplicates", () => sortAggForm)
    bench("typedReduce", () => typedForm)
    spark.stop()
  }
}
