package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Graph, Rounds}

/** The round-loop contract of [[graft.ops.Rounds.checkpoint]]: exact
  * marker sums, scalars that do not depend on execution width, a fixed
  * job count per PageRank round, and a CC loop that fails loudly when
  * its round budget runs out. */
class RoundsSpec extends SparkSpec {
  import spark.implicits._

  test("exact-sum accumulator: same doubles, same sum, for any order of adds and merges") {
    val rnd = new scala.util.Random(3)
    val xs = Seq.fill(500)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(24) - 12)) ++
      Seq(1e16, 1.0, -1e16, 3.0, 0.0)
    def sum(part: Seq[Double]): Rounds.ExactSum = {
      val s = new Rounds.ExactSum
      part.foreach(s.add)
      s
    }
    val want = sum(xs).value
    assert(want == xs.map(new java.math.BigDecimal(_)).reduce(_ add _).doubleValue)
    for (seed <- 1 to 8) {
      val r = new scala.util.Random(seed)
      val parts = r.shuffle(xs).grouped(1 + r.nextInt(60)).map(sum).toSeq
      val root = new Rounds.ExactSum
      r.shuffle(parts).foreach(root.merge)
      assert(root.value == want, s"seed $seed")
    }
    // a plain double sum of the same values is order-dependent, so the
    // loop above would catch an accumulator that is not exact
    assert(Seq(1e16, 1.0, -1e16).sum != Seq(1e16, -1e16, 1.0).sum)
  }

  test("connected components: an exhausted round budget throws; the default converges") {
    val path = (0L until 63L).map(i => (i, i + 1)).toDF("d1", "d2")
    val ex = intercept[IllegalStateException](Dedup.connectedComponents(path, maxIter = 2))
    assert(ex.getMessage.contains("maxIter=2"), ex.getMessage)
    val changed = "changed (\\d+) labels".r.findFirstMatchIn(ex.getMessage).map(_.group(1).toLong)
    assert(changed.exists(_ > 0), ex.getMessage)
    val comps = Dedup.connectedComponents(path).as[(Long, Long)].collect()
    assert(comps.length == 64 && comps.forall(_._2 == 0L), comps.toSeq.toString)
  }

  test("PageRank and HITS outputs do not depend on execution width") {
    val inter = graft.pipelines.MentionRecommender.interactions(
      graft.queries.Tables(spark, sf, "events"))
    val e = inter.select(concat(lit("u:"), col("user_id")).as("src"),
      concat(lit("i:"), col("item")).as("dst"), col("y").cast("double").as("weight"))
    val ui = inter.select(col("user_id").as("u"), col("item").as("i"))
    def r6(df: DataFrame): Seq[(String, Double)] =
      df.select(df.columns.map(col): _*).toDF("k", "v")
        .select(col("k").cast("string"), round(col("v"), 6))
        .as[(String, Double)].collect().sorted.toSeq
    def outputs(): Seq[Seq[(String, Double)]] = {
      val (hub, auth) = Graph.hits(ui, iters = 2)
      Seq(r6(Graph.pageRank(e, iters = 3)), r6(Graph.weightedPageRank(e, iters = 3)),
        r6(hub), r6(auth))
    }
    def under(confs: (String, String)*): Seq[Seq[(String, Double)]] = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try outputs()
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val one = under("spark.sql.shuffle.partitions" -> "1")
    assert(one.forall(_.nonEmpty))
    assert(under("spark.sql.shuffle.partitions" -> "7") == one)
    assert(under(Rounds.PartitionsKey -> "13") == one)
  }

  test("PageRank pays a fixed number of Spark jobs per round") {
    // jobs(iters = 3) - jobs(iters = 2) is one round's job count; a
    // scalar job that creeps back into the round moves it
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e"))
      .toDF("src", "dst")
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    def jobsFor(iters: Int): Int = {
      Sessions.sweep(spark)
      ListenerBusDrain(spark.sparkContext)
      jobs.set(0)
      Graph.pageRank(e, iters).collect(): Unit
      ListenerBusDrain(spark.sparkContext)
      jobs.get
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobsFor(2): Unit // warm-up: the first call also plans the fixture
      val perRound = jobsFor(3) - jobsFor(2)
      assert(perRound == 3, s"jobs per PageRank round: $perRound")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
