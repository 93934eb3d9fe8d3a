package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Graph, Rounds}

/** The round-loop contract of [[graft.ops.Rounds.iterate]] and
  * [[graft.ops.Rounds.checkpoint]]: exact marker sums, outputs that do
  * not depend on execution width, a fixed job count per round,
  * superseded and failed round state released, the early stop and the
  * budget policies, per-round job tags, the parent DataFrame loops'
  * output shapes and values, non-finite weights rejected, and a CC loop
  * that fails loudly when its round budget runs out. */
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
    def exact(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    val hopSeeds = Seq(100L, 0L, 203L, 999L).toDF("s")
    val wg = g.withColumn("w", (col("u1") * 7 + col("u2")) % 5 + 1)
    def outputs(): (Seq[Seq[(String, Double)]], Seq[Seq[String]]) = {
      val (hub, auth) = Graph.hits(ui, iters = 2)
      var state: Option[DataFrame] = None
      batches.foreach(b => state = Some(Dedup.mergeComponents(state, b).localCheckpoint(true)))
      (Seq(r6(Graph.pageRank(e, iters = 3)), r6(Graph.weightedPageRank(e, iters = 3)),
        r6(Graph.personalizedPageRank(e, iters = 3, seeds = seeds)), r6(hub), r6(auth)),
        Seq(exact(Graph.kCore(g, k = 3, maxRounds = 4)), exact(Dedup.connectedComponents(pairs)),
          exact(state.get), exact(Graph.labelPropagation(g, iters = 3)),
          exact(Graph.bfsDistances(g, hopSeeds, maxHops = 4)),
          exact(Graph.bfsDistances(wg, hopSeeds, maxHops = 4, directed = true,
            weightCol = Some("w"))),
          exact(Graph.shortestPathTree(wg, hopSeeds, maxHops = 4, directed = true,
            weightCol = Some("w")))))
    }
    val one = under("spark.sql.shuffle.partitions" -> "1")(outputs())
    assert(one._1.forall(_.nonEmpty) && one._2.forall(_.nonEmpty))
    // the folded components are the one-shot components
    assert(one._2(2) == one._2(1))
    assert(under("spark.sql.shuffle.partitions" -> "7")(outputs()) == one)
    assert(under("spark.sql.shuffle.partitions" -> "13")(outputs()) == one)
  }

  test("PageRank pays a fixed number of Spark jobs per round") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("d", "e"))
      .toDF("src", "dst")
    val perRound = RoundsSpec.jobsPerRound(spark, 2)(iters => Graph.pageRank(e, iters).collect(): Unit)
    assert(perRound == 1, s"jobs per PageRank round: $perRound")
  }

  test("k-core and connected components pay a fixed number of Spark jobs per round") {
    // a 24-node path peels two nodes per round at k = 2, and its labels
    // need more than 3 rounds to converge
    val path = (0L until 23L).map(i => (i, i + 1))
    val kc = RoundsSpec.jobsPerRound(spark, 2)(r => Graph.kCore(path.toDF("u1", "u2"), k = 2, maxRounds = r)
      .collect(): Unit)
    assert(kc == 1, s"jobs per k-core round: $kc")
    val cc = RoundsSpec.jobsPerRound(spark, 2) { m =>
      intercept[IllegalStateException](Dedup.connectedComponents(path.toDF("d1", "d2"),
        maxIter = m)): Unit
    }
    assert(cc == 1, s"jobs per connected-components round: $cc")
  }

  test("label propagation, BFS and the shortest-path tree pay one Spark job per round") {
    val path = (0L until 23L).map(i => (i, i + 1)).toDF("u1", "u2")
    val w = path.withColumn("w", lit(2L))
    val s = Seq(0L, 11L).toDF("s")
    val lpa = RoundsSpec.jobsPerRound(spark, 2)(i => Graph.labelPropagation(path, i).collect(): Unit)
    assert(lpa == 1, s"jobs per label-propagation round: $lpa")
    val bfs = RoundsSpec.jobsPerRound(spark, 2)(h => Graph.bfsDistances(path, s, h).collect(): Unit)
    assert(bfs == 1, s"jobs per BFS hop: $bfs")
    val spt = RoundsSpec.jobsPerRound(spark, 2) { h =>
      Graph.shortestPathTree(w, s, h, directed = true, weightCol = Some("w")).collect(): Unit
    }
    assert(spt == 1, s"jobs per shortest-path-tree hop: $spt")
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
    val s = Seq(100L, 0L).toDF("s")
    val wg = g.withColumn("w", lit(3L))
    check("labelPropagation")(Seq(Graph.labelPropagation(g, iters = 3)))
    check("labelPropagation at 0 iterations")(Seq(Graph.labelPropagation(g, iters = 0)))
    check("bfsDistances")(Seq(Graph.bfsDistances(g, s, maxHops = 3)))
    check("bfsDistances at 0 hops")(Seq(Graph.bfsDistances(g, s, maxHops = 0)))
    check("shortestPathTree")(Seq(Graph.shortestPathTree(wg, s, maxHops = 3, directed = true,
      weightCol = Some("w"))))
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

  test("label propagation, BFS and the shortest-path tree keep their output shapes and values") {
    // int ids, a repeated pair, self-loops (7 has no other edge) and null
    // endpoints; int seeds, one absent (9), one null and one on the
    // self-loop-only node
    val ie = Seq[(Option[Int], Option[Int])]((Some(1), Some(2)), (Some(1), Some(3)),
      (Some(2), Some(3)), (Some(3), Some(4)), (Some(4), Some(5)), (Some(5), Some(5)),
      (Some(7), Some(7)), (Some(4), None), (None, Some(6)), (Some(2), Some(1))).toDF("u1", "u2")
    val seeds = Seq[Option[Int]](Some(1), Some(9), None, Some(7)).toDF("s")
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def pin(df: DataFrame, cols: Seq[(String, String)], want: String*): Unit = {
      assert(shape(df) == cols)
      assert(rows(df) == want.sorted, rows(df).mkString(" "))
    }
    val lpa0 = Seq("node" -> "int", "label" -> "int")
    val lpa = Seq("node" -> "int", "label" -> "bigint")
    pin(Graph.labelPropagation(ie, iters = 0), lpa0, "[1,1]", "[2,2]", "[3,3]", "[4,4]", "[5,5]")
    pin(Graph.labelPropagation(ie, iters = 1), lpa, "[1,2]", "[2,1]", "[3,1]", "[4,3]", "[5,4]")
    pin(Graph.labelPropagation(ie, iters = 2), lpa, "[1,1]", "[2,1]", "[3,1]", "[4,1]", "[5,3]")
    val bfs = Seq("node" -> "int", "seed" -> "int", "dist" -> "bigint")
    pin(Graph.bfsDistances(ie, seeds, maxHops = 0), bfs, "[1,1,0]")
    for (dir <- Seq(false, true))
      pin(Graph.bfsDistances(ie, seeds, maxHops = 2, directed = dir), bfs,
        "[1,1,0]", "[2,1,1]", "[3,1,1]", "[4,1,2]")
    val spt = bfs :+ ("pred" -> "bigint")
    pin(Graph.shortestPathTree(ie, seeds, maxHops = 0), spt, "[1,1,0,-1]")
    pin(Graph.shortestPathTree(ie, seeds, maxHops = 2), spt,
      "[1,1,0,-1]", "[2,1,1,1]", "[3,1,1,1]", "[4,1,2,3]")
    // fractional weights sum as doubles; a 0-hop dist stays the bigint 0
    val fe = Seq[(Option[Int], Option[Int], Double)]((Some(1), Some(2), 0.5),
      (Some(2), Some(3), 0.25), (Some(1), Some(3), 1.0), (Some(3), Some(3), 0.125),
      (Some(3), Some(4), 1.5), (Some(1), Some(2), 0.75), (Some(4), None, 1.0),
      (None, Some(1), 1.0)).toDF("u1", "u2", "w")
    pin(Graph.bfsDistances(fe, seeds, maxHops = 0, directed = true, weightCol = Some("w")),
      bfs, "[1,1,0]")
    for (dir <- Seq(false, true))
      pin(Graph.bfsDistances(fe, seeds, maxHops = 2, directed = dir, weightCol = Some("w")),
        Seq("node" -> "int", "seed" -> "int", "dist" -> "double"),
        "[1,1,0.0]", "[2,1,0.5]", "[3,1,0.75]", "[4,1,2.5]")
    // integral weights keep a bigint dist
    val le = Seq((1, 2, 2L), (2, 3, 1L), (1, 3, 3L), (3, 4, 1L), (3, 3, 1L)).toDF("u1", "u2", "w")
    pin(Graph.shortestPathTree(le, seeds, maxHops = 2, directed = true, weightCol = Some("w")),
      spt, "[1,1,0,-1]", "[2,1,2,1]", "[3,1,3,1]", "[4,1,4,3]")
    // long ids with int seeds: the seed column keeps the seeds' type
    val mixed = Graph.bfsDistances(Seq((1L, 2L), (2L, 3L)).toDF("u1", "u2"),
      Seq(1, 3).toDF("s"), maxHops = 1)
    pin(mixed, Seq("node" -> "bigint", "seed" -> "int", "dist" -> "bigint"),
      "[1,1,0]", "[2,1,1]", "[2,3,1]", "[3,3,0]")
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

  /** A throwable and its causes. */
  private def chain(t: Throwable): Seq[Throwable] =
    Option(t).toSeq.flatMap(x => x +: chain(x.getCause))

  /** Marks the rows above 0: the early-stop tests' "more work" count. */
  private def positive(r: Rounds.Round[Int]): Boolean = r.sums(0) > 0
  private val above0: Int => Double = x => if (x > 0) 1.0 else 0.0

  /** One round of the early-stop tests: every value drops by 3, to 0. */
  private def lower(prev: Rounds.Round[Int]): Rounds.Round[Int] =
    Rounds.checkpoint(prev.rdd.map(x => math.max(0, x - 3)))(identity, sums = Seq(above0))

  test("iterate with zero rounds materializes a view start: one persisted RDD, in the result") {
    val sc = spark.sparkContext
    def lineage(rdd: org.apache.spark.rdd.RDD[_]): Set[Int] =
      rdd.dependencies.map(_.rdd).foldLeft(Set(rdd.id))(_ ++ lineage(_))
    Sessions.sweep(spark)
    val base = sc.parallelize(1 to 10, 3).map(x => (x, x)).persist()
    val out = Rounds.iterate("zero", Rounds.Round(base.mapValues(_ * 2)), 0)(
      _ => fail("no round runs"))
    base.unpersist(blocking = true)
    val result = out.rdd.map { case (k, v) => k + v }
    assert(sc.getPersistentRDDs.keySet.toSet == Set(out.rdd.id))
    assert(lineage(result).contains(out.rdd.id))
    assert(result.collect().sorted.toSeq == (1 to 10).map(3 * _))
    // a materialized start that no round may change costs no job of its own
    val jobs = RoundsSpec.jobsOf(spark) {
      val done = Rounds.checkpoint(sc.parallelize(Seq(0, 0), 2))(identity, sums = Seq(above0))
      assert(Rounds.iterate("zero", done, 5)(_ => fail("no round runs"), more = positive) eq done)
    }
    assert(jobs == 1, s"$jobs jobs")
    Sessions.sweep(spark)
  }

  test("iterate stops early once a marker reads 0; an exhausted budget truncates or throws") {
    val sc = spark.sparkContext
    def start(): Rounds.Round[Int] =
      Rounds.checkpoint(sc.parallelize(1 to 8, 2))(identity, sums = Seq(above0))
    Sessions.sweep(spark)
    var steps = 0
    val done = Rounds.iterate("lower", start(), 10)({ s => steps += 1; lower(s) }, more = positive)
    // 8 reaches 0 in three rounds; a fourth would be an identity
    assert(steps == 3 && done.sums(0) == 0.0 && done.rdd.collect().forall(_ == 0))
    assert(sc.getPersistentRDDs.keySet.toSet == Set(done.rdd.id))
    // the budget runs out with 7 and 8 still above 0
    val cut = Rounds.iterate("lower", start(), 2)(lower, more = positive)
    assert(cut.rdd.collect().sorted.toSeq == Seq(0, 0, 0, 0, 0, 0, 1, 2))
    Sessions.sweep(spark)
    val ex = intercept[IllegalStateException](Rounds.iterate("lower", start(), 2)(lower,
      more = positive, unconverged = Some(s => s"${s.sums(0).toLong} values left")))
    assert(ex.getMessage == "2 values left")
    assert(sc.getPersistentRDDs.isEmpty, sc.getPersistentRDDs.toString)
  }

  test("a round that throws releases the live state and rethrows") {
    val sc = spark.sparkContext
    // round 3 fails inside its checkpoint job, or on the driver before it
    for (inJob <- Seq(true, false)) {
      Sessions.sweep(spark)
      var steps = 0
      val ex = intercept[Exception] {
        Rounds.iterate("failing", Rounds.Round(sc.parallelize(1 to 20, 4).map(x => (x, x))), 5)({
          prev =>
            steps += 1
            val r = steps
            if (r == 3 && !inJob) throw new IllegalStateException("round 3 fails")
            Rounds.checkpoint(prev.rdd.mapValues { x =>
              if (r == 3) throw new IllegalStateException("round 3 fails") else x + 1
            })(identity)
        })
      }
      assert(steps == 3)
      assert(chain(ex).exists(_.getMessage.contains("round 3 fails")), ex.toString)
      assert(sc.getPersistentRDDs.isEmpty, s"inJob=$inJob: ${sc.getPersistentRDDs}")
      assert(sc.getLocalProperty("spark.job.description") == null)
    }
  }

  test("PageRank rejects NaN and infinite weights, BFS and SPT a NaN weight, naming the edge") {
    def rejects(edge: String)(call: => Any): Unit = {
      val ex = intercept[Exception](call)
      assert(chain(ex).exists {
        case x: IllegalArgumentException => x.getMessage.contains(edge)
        case _ => false
      }, chain(ex).map(_.toString).mkString(" | "))
    }
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val w = Seq(("a", "b", 1.0), ("b", "c", bad), ("c", "a", 2.0), ("a", "d", 1.0))
        .toDF("src", "dst", "weight")
      rejects(s"edge (b, c) has weight $bad")(Graph.weightedPageRank(w, iters = 3).collect())
    }
    val g = Seq((1L, 2L, 1.0), (2L, 3L, Double.NaN), (3L, 4L, 1.0)).toDF("u1", "u2", "w")
    val s = Seq(1L).toDF("s")
    for (directed <- Seq(false, true)) {
      rejects("edge (2, 3) has weight NaN")(Graph.bfsDistances(g, s, maxHops = 3,
        directed = directed, weightCol = Some("w")).collect())
      rejects("edge (2, 3) has weight NaN")(Graph.shortestPathTree(g, s, maxHops = 3,
        directed = directed, weightCol = Some("w")).collect())
    }
    // +Infinity stays a valid weight: the far node is reached at +Infinity
    val inf = Seq((1L, 2L, 1.0), (2L, 3L, Double.PositiveInfinity)).toDF("u1", "u2", "w")
    assert(Graph.bfsDistances(inf, s, maxHops = 2, directed = true, weightCol = Some("w"))
      .collect().map(_.toString).sorted.toSeq == Seq("[1,1,0.0]", "[2,1,1.0]", "[3,1,Infinity]"))
  }

  test("every round job is tagged `<op> round <r>`; the caller's description comes back") {
    val sc = spark.sparkContext
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")).toDF("src", "dst")
    val path = (0L until 23L).map(i => (i, i + 1)).toDF("d1", "d2")
    for (caller <- Seq(null, "the caller")) {
      sc.setJobDescription(caller)
      try {
        val descs = RoundsSpec.descriptionsOf(spark) {
          Graph.pageRank(e, iters = 3).collect()
          Dedup.connectedComponents(path).collect()
          sc.parallelize(1 to 3).count(): Unit
        }
        def tagged(op: String): Seq[String] = descs.flatten.filter(_.startsWith(s"$op round "))
        assert(tagged("pageRank") == (1 to 3).map(r => s"pageRank round $r"), descs.toString)
        val cc = tagged("connectedComponents")
        assert(cc.size > 1 && cc == cc.indices.map(r => s"connectedComponents round ${r + 1}"),
          descs.toString)
        // one job per round; every other job, and the job after the calls,
        // carries the caller's description
        assert(descs.count(_.exists(_.contains(" round "))) == 3 + cc.size, descs.toString)
        assert(descs.filterNot(_.exists(_.contains(" round "))).forall(_ == Option(caller)),
          descs.toString)
        assert(descs.last == Option(caller))
      } finally sc.setJobDescription(null)
    }
  }
}

object RoundsSpec {
  /** Spark jobs submitted while `body` runs, counted after the listener
    * bus has drained. */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
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

  /** The description (`spark.job.description`) of each Spark job
    * submitted while `body` runs, in submission order. */
  def descriptionsOf(spark: SparkSession)(body: => Unit): Seq[Option[String]] = {
    val descs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Option[String])]()
    val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        descs.add(jobStart.jobId ->
          Option(jobStart.properties).flatMap(p => Option(p.getProperty("spark.job.description"))))
        ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
      descs.toArray.toSeq.map(_.asInstanceOf[(Int, Option[String])]).sortBy(_._1).map(_._2)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** jobs(n + 1 rounds) - jobs(n rounds): one round's job count; a
    * scalar job that creeps back into the round moves it. The first call
    * warms up (it also plans the fixture). */
  def jobsPerRound(spark: SparkSession, n: Int)(call: Int => Unit): Int = {
    jobsOf(spark)(call(n))
    jobsOf(spark)(call(n + 1)) - jobsOf(spark)(call(n))
  }
}
