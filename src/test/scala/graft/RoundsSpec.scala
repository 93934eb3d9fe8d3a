package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Graph, Rounds}

/** The round-loop contract of [[graft.ops.Rounds.checkpoint]]: exact
  * marker sums, outputs that do not depend on execution width, a fixed
  * job count per round, superseded round state released, the parent
  * DataFrame loops' output shapes and values, and a CC loop that fails
  * loudly when its round budget runs out. */
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

  /** Run `body` with `confs` set on the session, restoring them after. */
  private def under[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** A seeded random long-keyed graph: a 40-node path (so the loops run
    * several rounds), a few dense clusters and random sparse edges. */
  private lazy val longGraph: Seq[(Long, Long)] = {
    val r = new scala.util.Random(7)
    val path = (100L until 139L).map(i => (i, i + 1))
    val clusters = for (c <- 0 until 4; i <- 0 until 6; j <- i + 1 until 6
      if r.nextDouble() < 0.8) yield (c * 10L + i, c * 10L + j)
    val sparse = Seq.fill(60)((200L + r.nextInt(80), 200L + r.nextInt(80)))
    path ++ clusters ++ sparse
  }

  test("every round loop's output does not depend on execution width") {
    val inter = graft.pipelines.MentionRecommender.interactions(
      graft.queries.Tables(spark, sf, "events"))
    val e = inter.select(concat(lit("u:"), col("user_id")).as("src"),
      concat(lit("i:"), col("item")).as("dst"), col("y").cast("double").as("weight"))
    val ui = inter.select(col("user_id").as("u"), col("item").as("i"))
    val seeds = e.select(col("src")).distinct().orderBy(col("src")).limit(5)
      .as[String].collect().toSeq.toDF("node")
    val g = longGraph.toDF("u1", "u2")
    val pairs = g.toDF("d1", "d2")
    val batches = longGraph.grouped(longGraph.size / 3 + 1).map(_.toDF("d1", "d2")).toSeq
    def r6(df: DataFrame): Seq[(String, Double)] =
      df.select(df.columns.map(col): _*).toDF("k", "v")
        .select(col("k").cast("string"), round(col("v"), 6))
        .as[(String, Double)].collect().sorted.toSeq
    def exact(df: DataFrame): Seq[(Long, Long)] = df.as[(Long, Long)].collect().sorted.toSeq
    def outputs(): (Seq[Seq[(String, Double)]], Seq[Seq[(Long, Long)]]) = {
      val (hub, auth) = Graph.hits(ui, iters = 2)
      var state: Option[DataFrame] = None
      batches.foreach(b => state = Some(Dedup.mergeComponents(state, b).localCheckpoint(true)))
      (Seq(r6(Graph.pageRank(e, iters = 3)), r6(Graph.weightedPageRank(e, iters = 3)),
        r6(Graph.personalizedPageRank(e, iters = 3, seeds = seeds)), r6(hub), r6(auth)),
        Seq(exact(Graph.kCore(g, k = 3, maxRounds = 4)), exact(Dedup.connectedComponents(pairs)),
          exact(state.get)))
    }
    val one = under("spark.sql.shuffle.partitions" -> "1")(outputs())
    assert(one._1.forall(_.nonEmpty) && one._2.forall(_.nonEmpty))
    // the folded components are the one-shot components
    assert(one._2(2) == one._2(1))
    assert(under("spark.sql.shuffle.partitions" -> "7")(outputs()) == one)
    assert(under(Rounds.PartitionsKey -> "13")(outputs()) == one)
  }

  /** Spark jobs submitted while `body` runs, counted after the listener
    * bus has drained. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    Sessions.sweep(spark)
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
      jobs.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** jobs(n + 1 rounds) - jobs(n rounds): one round's job count; a
    * scalar job that creeps back into the round moves it. The first call
    * warms up (it also plans the fixture). */
  private def jobsPerRound(n: Int)(call: Int => Unit): Int = {
    jobsOf(call(n))
    jobsOf(call(n + 1)) - jobsOf(call(n))
  }

  test("PageRank pays a fixed number of Spark jobs per round") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e"))
      .toDF("src", "dst")
    val perRound = jobsPerRound(2)(iters => Graph.pageRank(e, iters).collect(): Unit)
    assert(perRound == 1, s"jobs per PageRank round: $perRound")
  }

  test("k-core and connected components pay a fixed number of Spark jobs per round") {
    // a 24-node path peels two nodes per round at k = 2, and its labels
    // need more than 3 rounds to converge
    val path = (0L until 23L).map(i => (i, i + 1))
    val kc = jobsPerRound(2)(r => Graph.kCore(path.toDF("u1", "u2"), k = 2, maxRounds = r)
      .collect(): Unit)
    assert(kc == 1, s"jobs per k-core round: $kc")
    val cc = jobsPerRound(2) { m =>
      intercept[IllegalStateException](Dedup.connectedComponents(path.toDF("d1", "d2"),
        maxIter = m)): Unit
    }
    assert(cc == 1, s"jobs per connected-components round: $cc")
  }

  test("a collected call leaves only its returned state persisted") {
    val sc = spark.sparkContext
    def lineage(rdd: org.apache.spark.rdd.RDD[_]): Set[Int] =
      rdd.dependencies.map(_.rdd).foldLeft(Set(rdd.id))(_ ++ lineage(_))
    def check(name: String)(call: => Seq[DataFrame]): Unit = {
      Sessions.sweep(spark)
      val out = call
      out.foreach(_.collect())
      val kept = sc.getPersistentRDDs.keySet.toSet
      assert(kept.size == out.size, s"$name keeps ${kept.size} RDDs for ${out.size} results")
      assert(kept.subsetOf(out.map(df => lineage(df.queryExecution.toRdd)).reduce(_ ++ _)),
        s"$name keeps an RDD its result does not read")
      // the kept blocks still back the result
      out.foreach(_.collect())
    }
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("src", "dst")
    val w = e.withColumn("weight", lit(2.0))
    val g = longGraph.toDF("u1", "u2")
    check("pageRank")(Seq(Graph.pageRank(e, iters = 3)))
    check("pageRank at 0 iterations")(Seq(Graph.pageRank(e, iters = 0)))
    check("weightedPageRank")(Seq(Graph.weightedPageRank(w, iters = 3)))
    check("personalizedPageRank")(Seq(Graph.personalizedPageRank(e, 3, Seq("a").toDF("n"))))
    check("hits") { val (h, a) = Graph.hits(g.toDF("u", "i"), iters = 3); Seq(h, a) }
    check("kCore")(Seq(Graph.kCore(g, k = 3, maxRounds = 4)))
    check("connectedComponents")(Seq(Dedup.connectedComponents(g.toDF("d1", "d2"))))
    val prior = Dedup.connectedComponents(Seq((1L, 2L)).toDF("d1", "d2"))
      .as[(Long, Long)].collect().toSeq.toDF("id", "component")
    check("mergeComponents")(Seq(Dedup.mergeComponents(Some(prior), Seq((2L, 3L)).toDF("d1", "d2"))))
    Sessions.sweep(spark)
  }

  /** Column names and types: what a caller's plan sees of a result. */
  private def shape(df: DataFrame): Seq[(String, String)] =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType.simpleString)

  test("string-keyed PageRank keeps its output; an edge with a null endpoint is dropped") {
    val clean = Seq(("u:1", "i:1"), ("u:1", "i:2"), ("u:2", "i:1"), ("i:2", "u:2"))
    val e = (clean ++ Seq(("u:3", null), (null, "i:2"))).toDF("src", "dst")
    // weights 2, 1, 3, 1 once the duplicate is summed and the zero dropped
    val w = (clean.zip(Seq(1.0, 1.0, 3.0, 1.0)).map { case ((s, d), x) => (s, d, x) } ++
      Seq(("u:1", "i:1", 1.0), ("u:3", null, 1.0), (null, "i:2", 1.0), ("u:2", "i:2", 0.0)))
      .toDF("src", "dst", "weight")
    def ranks(df: DataFrame): Map[String, Double] = df.as[(String, Double)].collect().toMap
    def near(got: Map[String, Double], want: Map[String, Double]): Unit = {
      assert(got.keySet == want.keySet, got.toString)
      want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12, s"$k: $got") }
    }
    val pr = Graph.pageRank(e, iters = 3)
    val wpr = Graph.weightedPageRank(w, iters = 3)
    val ppr = Graph.personalizedPageRank(e, 3, Seq[String]("u:1", null).toDF("n"))
    for (df <- Seq(pr, wpr, ppr)) assert(shape(df) == Seq("node" -> "string", "rank" -> "double"))
    // the values the DataFrame rounds gave on the null-free edges
    near(ranks(pr), Map("i:1" -> 0.42786083984375, "i:2" -> 0.17980029296875,
      "u:1" -> 0.12689111328125, "u:2" -> 0.26544775390625))
    near(ranks(wpr), Map("i:1" -> 0.43489805772569445, "i:2" -> 0.1686237521701389,
      "u:1" -> 0.13121858723958335, "u:2" -> 0.26525960286458333))
    near(ranks(ppr), Map("i:1" -> 0.52434375, "i:2" -> 0.21728125,
      "u:1" -> 0.2041875, "u:2" -> 0.0541875))
    // components order string ids as Spark's min does
    val cc = Graph.connectedComponents(e.toDF("u1", "u2"))
    assert(shape(cc) == Seq("node" -> "string", "component" -> "string"))
    assert(cc.as[(String, String)].collect().toMap ==
      Map("u:1" -> "i:1", "u:2" -> "i:1", "i:1" -> "i:1", "i:2" -> "i:1"))
  }

  test("long-keyed k-core and components keep their output; null endpoints are dropped") {
    val clean = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (5L, 6L), (6L, 6L))
    val l = (clean.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(4L), None), (None, Some(5L)))).toDF("u1", "u2")
    val core = Graph.kCore(l, k = 2, maxRounds = 4)
    assert(shape(core) == Seq("node" -> "bigint", "degree" -> "bigint"))
    assert(core.as[(Long, Long)].collect().toMap == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    val cc = Dedup.connectedComponents(l.toDF("d1", "d2"))
    assert(shape(cc) == Seq("id" -> "bigint", "component" -> "bigint"))
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L)
    assert(cc.as[(Long, Long)].collect().toMap == want)
    val gcc = Graph.connectedComponents(l)
    assert(shape(gcc) == Seq("node" -> "bigint", "component" -> "bigint"))
    assert(gcc.as[(Long, Long)].collect().toMap == want)
    val merged = Dedup.mergeComponents(
      Some(Seq((1L, 1L), (2L, 1L), (7L, 7L)).toDF("id", "component")), l.toDF("d1", "d2"))
    assert(shape(merged) == Seq("id" -> "bigint", "component" -> "bigint"))
    assert(merged.as[(Long, Long)].collect().toMap == want + (7L -> 7L))
    // mixed int/long endpoints take their common type, as a union would
    val mixed = Seq((1, 2L), (2, 3L)).toDF("u1", "u2")
    assert(shape(Graph.kCore(mixed, 1, 2)) == Seq("node" -> "bigint", "degree" -> "bigint"))
    assert(Graph.connectedComponents(mixed).as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("hits keeps its output and Spark round's HALF_UP 6 dp between half-steps") {
    val ui = Seq[(java.lang.Long, java.lang.Integer)]((1L, 1), (1L, 2), (2L, 1), (4L, 3),
      (3L, null), (null, 2)).toDF("u", "i")
    val (hub, auth) = Graph.hits(ui, iters = 2)
    assert(shape(hub) == Seq("u" -> "bigint", "h" -> "double"))
    assert(shape(auth) == Seq("i" -> "int", "a" -> "double"))
    assert(hub.as[(Long, Double)].collect().toMap == Map(1L -> 1.0, 2L -> 0.625, 4L -> 0.125))
    assert(auth.as[(Int, Double)].collect().toMap == Map(1 -> 1.0, 2 -> 0.6, 3 -> 0.2))
    // 128 hubs endorse item 1 and one of them item 2: item 2's authority
    // is 1/128 = 0.0078125, which HALF_UP rounds to 0.007813 (HALF_EVEN
    // would give 0.007812)
    val star = ((1L to 128L).map(u => (u, 1)) :+ ((1L, 2))).toDF("u", "i")
    val a1 = Graph.hits(star, iters = 1)._2.as[(Int, Double)].collect().toMap
    assert(a1 == Map(1 -> 1.0, 2 -> 0.007813), a1.toString)
    // the normalizer agrees with Spark's round on values at and near a
    // half-step, in both signs
    val rnd = new scala.util.Random(5)
    val xs = Seq(0.0078125, 0.1234565, 1.0000005, 2.5e-7, 5e-7, -0.0000015, 0.9999995) ++
      Seq.fill(200)(rnd.nextDouble() * math.pow(10, -rnd.nextInt(8)))
    val spark6 = xs.toDF("x").select(round(col("x"), 6)).as[Double].collect().toSeq
    assert(xs.map(Graph.round6) == spark6)
  }
}
