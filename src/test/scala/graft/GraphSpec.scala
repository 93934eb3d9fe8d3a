package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** PageRank golden cases (fixed points and a hand-computed dangling
  * step) plus the mass-conservation invariant on real data. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("cycle is a fixed point: every node keeps rank 1/3") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 3).as[(String, Double)].collect().toMap
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12, r.toString))
  }

  test("two-cycle is a fixed point at 1/2") {
    val e = Seq(("a", "b"), ("b", "a")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 4).as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 0.5) < 1e-12 && math.abs(r("b") - 0.5) < 1e-12)
  }

  test("iterating across the localCheckpoint boundary preserves the fixed point") {
    // every round ends in its own localCheckpoint, so 6 iterations cross
    // the boundary six times; the cycle's fixed point must survive each
    // re-materialization
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 6).as[(String, Double)].collect().toMap
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12, r.toString))
  }

  test("dangling node redistributes: one hand-computed iteration") {
    // a -> b, b dangling. r0 = (.5, .5); dsum = .5
    // b: .15/2 + .85*(.5 + .25) = .7125 ; a: .075 + .85*.25 = .2875
    val e = Seq(("a", "b")).toDF("src", "dst")
    val r = Graph.pageRank(e, iters = 1).as[(String, Double)].collect().toMap
    assert(math.abs(r("b") - 0.7125) < 1e-12, r.toString)
    assert(math.abs(r("a") - 0.2875) < 1e-12, r.toString)
  }

  test("triangleStats: golden graph (triangle + pendant) and a 4-clique") {
    // triangle 1-2-3 plus pendant 3-4
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("u1", "u2")
    val r = Graph.triangleStats(e)
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), Option(x.get(3)))).toMap
    assert(r(1L) == ((2L, 1L, Some(1.0))))
    assert(r(2L) == ((2L, 1L, Some(1.0))))
    assert(r(3L) == ((3L, 1L, Some(0.333333))))
    assert(r(4L) == ((1L, 0L, None))) // degree 1: coefficient undefined
    // 4-clique: 4 triangles total, each node in 3, coefficient 1
    val k4 = (for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)).toDF("u1", "u2")
    val rk = Graph.triangleStats(k4).collect()
      .map(x => (x.getLong(1), x.getLong(2), x.getDouble(3)))
    assert(rk.forall(_ == ((3L, 3L, 1.0))), rk.toSeq.toString)
  }

  test("coActivityEdges: invisible below the cap, bounded and deterministic above it") {
    // two blocks: A with 3 users (under any cap), B with 6. At cap 6
    // the output must equal the plain within-block pair join; at cap 3
    // block B contributes exactly C(3,2) = 3 pairs over a hash-chosen
    // 3-user subset — the same subset every run — and block A is
    // untouched.
    val act = (Seq((1L, "A"), (2L, "A"), (3L, "A")) ++
      (10L to 15L).map(u => (u, "B"))).toDF("u", "blk")
    def edges(cap: Int) =
      Graph.coActivityEdges(act, col("blk"), col("u"), cap)
        .as[(Long, Long)].collect().toSet
    val full = edges(6)
    val naive = (for {
      Seq(a, b) <- Seq(1L, 2L, 3L).combinations(2)
    } yield (a, b)).toSet ++
      (for { Seq(a, b) <- (10L to 15L).combinations(2) } yield (a, b)).toSet
    assert(full == naive)
    val capped = edges(3)
    assert(capped.count(p => p._1 < 10) == 3)     // block A intact
    assert(capped.count(p => p._1 >= 10) == 3)    // C(3,2) from block B
    assert(capped == edges(3))                    // deterministic
    assert(capped.subsetOf(full))
  }

  test("coActivityEdgesWeighted: w counts capped shared blocks") {
    // pair (1,2) shares blocks X and Y; block Z holds users 1..5 — at
    // cap 2 Z contributes exactly one pair with weight 1, and (1,2)'s
    // weight stays 2 iff both users survive X and Y's trivial caps
    val act = Seq((1L, "X"), (2L, "X"), (1L, "Y"), (2L, "Y"),
      (1L, "Z"), (2L, "Z"), (3L, "Z"), (4L, "Z"), (5L, "Z")).toDF("u", "blk")
    val w = Graph.coActivityEdgesWeighted(act, col("blk"), col("u"), 2)
      .as[(Long, Long, Long)].collect().toSeq
    val zPairs = w.filter { case (a, b, _) => !(a == 1L && b == 2L) }
    // Z's capped 2 representatives yield exactly one extra pair (or
    // none extra if Z's survivors ARE {1,2}, folding into their weight)
    val p12 = w.find { case (a, b, _) => a == 1L && b == 2L }.get
    assert(zPairs.size + (if (p12._3 == 3L) 1 else 0) == 1)
    assert(p12._3 == 2L || p12._3 == 3L)
    assert(w.map(_._3).forall(_ >= 1L))
  }

  test("triangleStats matches a naive id-ordered count on random graphs") {
    val rnd = new scala.util.Random(7)
    for (_ <- 0 until 3) {
      val edges = (0 until 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter { case (a, b) => a != b }.toDF("u1", "u2")
      val canon = edges.select(least($"u1", $"u2").as("a"), greatest($"u1", $"u2").as("b"))
        .distinct()
      val naive = canon.as("ab")
        .join(canon.as("bc"), col("ab.b") === col("bc.a"))
        .join(canon.as("ac"),
          col("ac.a") === col("ab.a") && col("ac.b") === col("bc.b"))
        .count()
      val got = Graph.triangleStats(edges)
        .agg(sum($"n_triangles")).as[Long].head()
      assert(got == 3 * naive, s"got=$got naive=$naive") // each triangle counted at 3 corners
    }
  }

  test("labelPropagation: two cliques joined by one bridge separate") {
    // cliques {1,2,3} and {10,11,12}, bridge 3-10: the majority vote
    // keeps the two cliques in DIFFERENT communities despite the
    // bridge (which label each carries depends on the tie dynamics —
    // hand-traced, the right clique converges on the bridge-imported
    // label 3 — so assert the partition, not the label values)
    val e = Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (10L, 12L),
      (11L, 12L), (3L, 10L)).toDF("u1", "u2")
    val r = Graph.labelPropagation(e, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).map(r).distinct.size == 1, r.toString)
    assert(Seq(10L, 11L, 12L).map(r).distinct.size == 1, r.toString)
    assert(r(1L) != r(10L), r.toString)
  }

  test("labelPropagation: deterministic across runs and round widths, and 0 iters") {
    val rnd = new scala.util.Random(11)
    val e = (0 until 80).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter { case (a, b) => a != b }.toDF("u1", "u2")
    def run(): Map[Long, Long] =
      Graph.labelPropagation(e, iters = 4).as[(Long, Long)].collect().toMap
    val a = run()
    assert(a.size == 20 && run() == a)
    assert(under("spark.sql.shuffle.partitions" -> "3")(run()) == a)
    // 0 iterations: everyone keeps their own label
    val z = Graph.labelPropagation(e, iters = 0).as[(Long, Long)].collect()
    assert(z.forall { case (n, l) => n == l })
  }

  test("rank mass is conserved on the real mention graph") {
    val inter = graft.pipelines.MentionRecommender.interactions(
      graft.queries.Tables(spark, sf, "events"))
    val e = inter.select(concat(lit("u:"), col("user_id")).as("src"),
      concat(lit("i:"), col("item")).as("dst"))
    val ranks = Graph.pageRank(e, iters = 3)
    val total = ranks.agg(sum(col("rank"))).as[Double].head()
    assert(math.abs(total - 1.0) < 1e-9, s"mass drifted: $total")
    // ranks positive, teleport floor respected
    val n = ranks.count().toDouble
    val bad = ranks.filter(col("rank") < (1.0 - 0.85) / n - 1e-12)
    assert(bad.isEmpty)
  }

  test("personalizedPageRank: mass conserved, unreachable nodes exactly 0") {
    // two disjoint two-cycles; seeding {a} must leave the (c, d)
    // component at EXACTLY zero (no uniform teleport floor) while the
    // seeded component carries all the mass
    val e = Seq(("a", "b"), ("b", "a"), ("c", "d"), ("d", "c")).toDF("src", "dst")
    val seeds = Seq("a").toDF("node")
    val r = Graph.personalizedPageRank(e, iters = 4, seeds = seeds)
      .as[(String, Double)].collect().toMap
    assert(r("c") == 0.0 && r("d") == 0.0, r.toString)
    assert(math.abs(r.values.sum - 1.0) < 1e-12, s"mass drifted: ${r.values.sum}")
    // the seed holds more mass than its non-seed partner (teleport bias)
    assert(r("a") > r("b"))
  }

  test("personalizedPageRank: one hand-computed dangling iteration") {
    // a -> b, b dangling, seed {a}: tele = (1, 0); r0 = (1, 0); dsum = 0
    // a: .15*1 + .85*(0 + 0*1) = .15 ; b: .15*0 + .85*(1 + 0) = .85
    val e = Seq(("a", "b")).toDF("src", "dst")
    val r = Graph.personalizedPageRank(e, iters = 1, seeds = Seq("a").toDF("node"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - 0.15) < 1e-12, r.toString)
    assert(math.abs(r("b") - 0.85) < 1e-12, r.toString)
    // iteration 2: dsum = .85 (b dangles) -> a gets .15 + .85*.85*1
    val r2 = Graph.personalizedPageRank(e, iters = 2, seeds = Seq("a").toDF("node"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(r2("a") - (0.15 + 0.85 * 0.85)) < 1e-12, r2.toString)
    assert(math.abs(r2("b") - 0.85 * 0.15) < 1e-12, r2.toString)
  }

  test("weightedPageRank: equal weights give the unweighted fixed point") {
    val e = Seq(("a", "b", 7.0), ("b", "c", 7.0), ("c", "a", 7.0))
      .toDF("src", "dst", "weight")
    val r = Graph.weightedPageRank(e, iters = 3).as[(String, Double)].collect().toMap
    r.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12, r.toString))
  }

  test("weightedPageRank: 3:1 split, duplicate-edge summing, bad weights dropped") {
    // a -> b carries 3/4 of a's mass (weights 2+1 summed across
    // duplicate rows), a -> c carries 1/4; zero/negative/null-weight
    // rows must not disturb the denominator. b, c dangle: dsum = 2/3.
    val e = Seq(
      ("a", "b", 2.0), ("a", "b", 1.0), ("a", "c", 1.0),
      ("a", "c", 0.0), ("a", "b", -5.0)
    ).toDF("src", "dst", "weight")
    val r = Graph.weightedPageRank(e, iters = 1).as[(String, Double)].collect().toMap
    val tele = 0.15 / 3
    assert(math.abs(r("a") - (tele + 0.85 * (2.0 / 9))) < 1e-12, r.toString)
    assert(math.abs(r("b") - (tele + 0.85 * (0.25 + 2.0 / 9))) < 1e-12, r.toString)
    assert(math.abs(r("c") - (tele + 0.85 * (1.0 / 12 + 2.0 / 9))) < 1e-12, r.toString)
    assert(math.abs(r.values.sum - 1.0) < 1e-12)
  }

  test("kCore: 4-clique survives k=3, pendant chain peels away") {
    val clique = for (x <- Seq("a", "b", "c", "d"); y <- Seq("a", "b", "c", "d")
      if x < y) yield (x, y)
    val e = (clique ++ Seq(("d", "e"), ("e", "f"))).toDF("u1", "u2")
    val r = Graph.kCore(e, k = 3, maxRounds = 4)
      .as[(String, Long)].collect().toMap
    assert(r == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L), r.toString)
  }

  test("kCore: path peels from the endpoints inward, round by round") {
    // a-b-c-d at k=2: round 1 drops a,d (degree 1), leaving b-c;
    // round 2 drops b,c — empty. Bounded rounds expose each stage.
    val e = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("u1", "u2")
    val one = Graph.kCore(e, k = 2, maxRounds = 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("b" -> 1L, "c" -> 1L), one.toString)
    assert(Graph.kCore(e, k = 2, maxRounds = 2).count() == 0)
    // 0 rounds: the simple-graph degrees, untouched
    val zero = Graph.kCore(e, k = 2, maxRounds = 0)
      .as[(String, Long)].collect().toMap
    assert(zero == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L))
  }

  test("personalizedPageRank: seeds absent from the graph are rejected") {
    val e = Seq(("a", "b")).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(e, iters = 1, seeds = Seq("zz").toDF("node"))
    }
    assert(ex.getMessage.contains("seed"))
  }

  test("connectedComponents: two components, min-id labels, via the Graph API") {
    val e = Seq((3L, 1L), (1L, 2L), (7L, 8L)).toDF("u1", "u2")
    val r = Graph.connectedComponents(e).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L), r.toString)
  }

  test("modularity: two disjoint triangles score Q = 0.5; one label scores 0") {
    // m = 6; per community: internal = 3, degree_sum = 6
    // q_term = 3/6 - (6/12)^2 = 0.25 each -> Q = 0.5
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L))
      .toDF("u1", "u2")
    val labels = Seq(1L -> 10L, 2L -> 10L, 3L -> 10L, 4L -> 20L, 5L -> 20L, 6L -> 20L)
      .toDF("node", "label")
    val r = Graph.modularity(e, labels)
      .as[(Long, Long, Long, Long, Double)].collect()
      .map(x => x._1 -> ((x._2, x._3, x._4, x._5))).toMap
    assert(r(10L) == ((3L, 3L, 6L, 0.25)), r.toString)
    assert(r(20L) == ((3L, 3L, 6L, 0.25)), r.toString)
    // everything in one community: e_c/m = 1 and (d_c/2m)^2 = 1 -> Q = 0
    val one = Graph.modularity(e, labels.withColumn("label", lit(1L)))
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(one.length == 1 && one.head._5 == 0.0, one.toSeq.toString)
  }

  test("bfsDistances: path graph hop goldens, truncation, and maxHops=0") {
    // path 1-2-3-4-5 plus disconnected 9-10; seed {1}, 2 hops
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 10L)).toDF("u1", "u2")
    val seeds = Seq(1L).toDF("node")
    val r = Graph.bfsDistances(e, seeds, maxHops = 2)
      .as[(Long, Long, Long)].collect().map(x => (x._1, x._2) -> x._3).toMap
    // nodes 4, 5 and the 9-10 component are beyond reach: absent, not inf
    assert(r == Map((1L, 1L) -> 0L, (2L, 1L) -> 1L, (3L, 1L) -> 2L), r.toString)
    val zero = Graph.bfsDistances(e, seeds, maxHops = 0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(zero == Seq((1L, 1L, 0L)), zero.toString)
    // two seeds: each (node, seed) pair keeps its own min distance
    val two = Graph.bfsDistances(e, Seq(1L, 5L).toDF("node"), maxHops = 2)
      .as[(Long, Long, Long)].collect().map(x => (x._1, x._2) -> x._3).toMap
    assert(two((3L, 1L)) == 2L && two((3L, 5L)) == 2L && two((5L, 5L)) == 0L, two.toString)
  }

  test("bfsDistances: directed flag skips the symmetric view; weights give min-sum") {
    val e = Seq((0L, 1L, 1L), (1L, 2L, 5L), (0L, 2L, 10L)).toDF("u1", "u2", "w")
    def run(edges: org.apache.spark.sql.DataFrame, seed: Long, hops: Int,
        dir: Boolean) =
      Graph.bfsDistances(edges, Seq(seed).toDF("s"), maxHops = hops,
          directed = dir, weightCol = Some("w"))
        .as[(Long, Long, Long)].collect().map(x => x._1 -> x._3).toMap
    // two hops: the 0→1→2 relay (cost 6) beats the direct edge (10)
    assert(run(e, 0L, 2, dir = true) == Map(0L -> 0L, 1L -> 1L, 2L -> 6L))
    // one hop: the budget forces the direct edge's cost
    assert(run(e, 0L, 1, dir = true) == Map(0L -> 0L, 1L -> 1L, 2L -> 10L))
    // directed: seed 2 has no outgoing edges — reaches only itself;
    // the undirected default walks the same edges backwards
    assert(run(e, 2L, 2, dir = true) == Map(2L -> 0L))
    assert(run(e, 2L, 2, dir = false) == Map(2L -> 0L, 1L -> 5L, 0L -> 6L))
    // duplicate directed edges collapse to their MINIMUM weight
    val dup = e.unionAll(Seq((0L, 1L, 7L)).toDF("u1", "u2", "w"))
    assert(run(dup, 0L, 1, dir = true)(1L) == 1L)
  }

  test("shortestPathTree: predecessors reconstruct a shortest path, ties to lowest pred") {
    val e = Seq((0L, 1L, 1L), (1L, 2L, 5L), (0L, 2L, 10L)).toDF("u1", "u2", "w")
    def run(edges: org.apache.spark.sql.DataFrame, hops: Int) =
      Graph.shortestPathTree(edges, Seq(0L).toDF("s"), maxHops = hops,
          directed = true, weightCol = Some("w"))
        .as[(Long, Long, Long, Long)].collect()
        .map(x => x._1 -> ((x._3, x._4))).toMap
    // 2 hops: the relay wins and pred tracks it (2 came via 1, 1 via 0)
    assert(run(e, 2) == Map(0L -> ((0L, -1L)), 1L -> ((1L, 0L)), 2L -> ((6L, 1L))))
    // 1 hop: budget forces the direct edge, pred flips to 0
    assert(run(e, 1)(2L) == ((10L, 0L)))
    // equal-cost paths: dist(1) = 2 via 0 directly or via 2 — the tie
    // must resolve to the LOWEST predecessor id (0, not 2)
    val tie = Seq((0L, 1L, 2L), (0L, 2L, 1L), (2L, 1L, 1L)).toDF("u1", "u2", "w")
    assert(run(tie, 2)(1L) == ((2L, 0L)))
    // distances agree with bfsDistances on the same graph
    val bfs = Graph.bfsDistances(e, Seq(0L).toDF("s"), maxHops = 2,
        directed = true, weightCol = Some("w"))
      .as[(Long, Long, Long)].collect().map(x => x._1 -> x._3).toMap
    assert(run(e, 2).map { case (n, (d, _)) => n -> d } == bfs)
  }
  test("hits: star-center user is the top hub, shared item the top authority") {
    // u1 -> {1,2,3}, u2 -> {1}: item 1 is endorsed by both hubs (top
    // authority), u1 endorses three items including the strong one
    // (top hub); exact hand-computed scores after round 1's
    // degree-rational seeding
    val e = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 1L)).toDF("u", "i")
    val (hub, auth) = graft.ops.Graph.hits(e, iters = 2)
    val h = hub.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = auth.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(h(10L) == 1.0 && h(10L) > h(20L), h.toString)
    assert(a(1L) == 1.0 && a(1L) > a(2L) && a(2L) == a(3L), a.toString)
  }
  test("hits: iters=4 equals the unrolled round-by-round chain (flat lineage)") {
    // the per-round localCheckpoint must be a pure lineage cut: running
    // the loop through the op at iters=4 has to give exactly what an
    // INDEPENDENT unroll of the same four max-normalized 6dp rounds
    // gives — checked on the sf graph, not a toy, so ties/rounding are
    // exercised
    import org.apache.spark.sql.DataFrame
    val ev = graft.queries.Tables(spark, sf, "events")
      .filter($"user_id".isNotNull && $"props".isNotNull)
      .select($"user_id".as("u"),
        get_json_object($"props", "$.k").cast("int").as("i"))
      .filter($"i".isNotNull)
    val e = ev.select($"u", $"i").distinct().cache()
    try {
      val (hub4, auth4) = graft.ops.Graph.hits(e, iters = 4)
      // independent unroll, no checkpointing
      var h: DataFrame = e.select($"u").distinct().withColumn("h", lit(1.0))
      var a: DataFrame = null
      (1 to 4).foreach { _ =>
        val ra = e.join(h, "u").groupBy($"i").agg(sum($"h").as("ra"))
        a = ra.crossJoin(broadcast(ra.agg(max($"ra").as("am"))))
          .select($"i", round($"ra" / $"am", 6).as("a"))
        val rh = e.join(a, "i").groupBy($"u").agg(sum($"a").as("rh"))
        h = rh.crossJoin(broadcast(rh.agg(max($"rh").as("hm"))))
          .select($"u", round($"rh" / $"hm", 6).as("h"))
      }
      val gotH = hub4.orderBy("u").as[(Long, Double)].collect().toSeq
      val wantH = h.orderBy("u").as[(Long, Double)].collect().toSeq
      val gotA = auth4.orderBy("i").as[(Int, Double)].collect().toSeq
      val wantA = a.orderBy("i").as[(Int, Double)].collect().toSeq
      // node sets exactly; scores to the hits() contract — per its
      // scaladoc the round-2+ re-pin is exact UNLESS an accumulation-
      // order-exposed sum lands on a .5e-6 rounding boundary, so the
      // compare allows that one-grain slack instead of asserting bit
      // equality the op never promised
      assert(gotH.map(_._1) == wantH.map(_._1))
      assert(gotA.map(_._1) == wantA.map(_._1))
      gotH.zip(wantH).foreach { case (g, w) =>
        assert(math.abs(g._2 - w._2) <= 1e-6 + 1e-12, s"$g vs $w")
      }
      gotA.zip(wantA).foreach { case (g, w) =>
        assert(math.abs(g._2 - w._2) <= 1e-6 + 1e-12, s"$g vs $w")
      }
      assert(gotH.nonEmpty && gotA.nonEmpty)
    } finally {
      e.unpersist(blocking = false): Unit
    }
  }
}
