package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Distributed graph analytics beyond [[Dedup.connectedComponents]]:
  * fixed-iteration PageRank (the canonical "importance over a directed
  * graph" measure — public algorithm, Brin & Page 1998) with proper
  * dangling-mass redistribution.
  *
  * Scale shape: every iteration is the rank/edge contribution join and
  * one node-keyed aggregate of the contributions (map-side combined on
  * the destination; the node base rides it, so there is no node-base
  * join) — and one eager localCheckpoint of the node-sized rank frame,
  * EVERY round. The only scalars the loop reads back, the node count
  * and each round's dangling mass, are read off those checkpoint jobs
  * by [[Rounds.checkpoint]] markers, so a round costs no job beyond its
  * own materialization. The ranks frame stays node-sized, edges
  * edge-sized; nothing corpus-wide is ever collected, and plan size and
  * recompute cost are constant per iteration.
  *
  * Fixed iteration count rather than convergence detection keeps runs
  * deterministic and oracle-replayable; production callers pick iters
  * by the usual ~log(N) guidance or wrap this in a delta check.
  */
object Graph {

  /** O(1)-state (cnt DESC, label ASC) argmax over (cnt, label) longs —
    * the LPA winner rule as a typed Aggregator so the per-node vote
    * plans as an ObjectHashAggregate (hash-based, map-side combined,
    * the [[GroupTopK]] machinery) rather than the SortAggregate that
    * `min(struct(-cnt, label))` falls to (struct aggregation buffers
    * aren't hash-supported) or a row_number window whose per-node
    * partition a celebrity hub's degree would bound. Counts stay
    * integral end to end — no Double score, no 2^53 precision cliff.
    * Zero buffer is (cnt = -1) — real counts are >= 1, and groups only
    * exist for nodes with at least one labeled neighbor, so the
    * sentinel never escapes finish(). */
  private[ops] final class MajorityVote
      extends Aggregator[(Long, Long), (Long, Long), Long] {
    @inline private def best(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
    override def zero: (Long, Long) = (-1L, Long.MaxValue)
    override def reduce(b: (Long, Long), x: (Long, Long)): (Long, Long) = best(b, x)
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) = best(a, b)
    override def finish(b: (Long, Long)): Long = b._2
    override def bufferEncoder: Encoder[(Long, Long)] = ExpressionEncoder()
    override def outputEncoder: Encoder[Long] = ExpressionEncoder()
  }

  /** Bounded CO-ACTIVITY edge builder: undirected user–user edges from
    * shared (blockKey) membership, with a per-block CONCURRENCY CAP —
    * the stop-shingle discipline ([[Dedup.shingles]] maxShingleDf)
    * applied to co-occurrence graphs.
    *
    * Why the cap is load-bearing, with numbers: co-activity pair volume
    * is Σ_b n_b² over block occupancies, and on a corpus whose entity
    * domain and time window are FIXED while volume grows (this repo's
    * generator, and any real stream with a stable catalog), occupancies
    * grow linearly with corpus size — so the edge count grows
    * QUADRATICALLY. Measured on the r18 10× rehearsal: sf0.1 →
    * sf1-equivalent multiplied distinct co-activity edges 67k → 6.78M
    * (101×), and triangle counting over them blew up 138×. Capping each
    * block at `maxBlockUsers` deterministic representatives bounds
    * per-block pairs at cap², restoring ~linear edge growth (699k =
    * 10.4× at cap 9 on the same rehearsal) while keeping every block
    * represented — a hyper-crowded (item, hour) contributes a bounded
    * affinity sample instead of a quadratic near-clique of noise.
    *
    * Determinism & cross-engine replay: representatives are the cap
    * lowest values of (p60(blk|user) DIV 256, user) — a pseudo-random
    * but portable hash rank (the q87/q151 hash-gated-sampling
    * convention; DIV 256 keeps the 60-bit hash inside double's exact
    * range for the aggregator's score), so an oracle replays the exact
    * selection with row_number OVER (ORDER BY (md5-hash) // 256, user).
    * Blocks with ≤ cap users are passed through UNCHANGED — on corpora
    * where no block exceeds the cap the output is identical to the
    * uncapped join (sf0.01/sf0.1 today), so the cap is invisible until
    * the density hazard it bounds actually appears.
    *
    * Plan shape: one hash aggregate per block via [[GroupTopK]]
    * (map-side partial fold to ≤ cap entries per block per task — a hot
    * block never concentrates its full membership in one sort), then
    * per-block pair expansion (≤ cap²/2 rows each) and a distinct.
    * No window, no block self-join, no unbounded task state.
    *
    * Input: (blockCol, userCol) rows; multiplicity within a block is
    * collapsed. Output: distinct (u1 < u2) long pairs. */
  def coActivityEdges(activity: DataFrame, blockCol: Column, userCol: Column,
      maxBlockUsers: Int): DataFrame =
    blockPairs(activity, blockCol, userCol, maxBlockUsers).distinct()

  /** [[coActivityEdges]] keeping MULTIPLICITY: (u1, u2, w) with w = how
    * many (capped) blocks bind the pair — the affinity weight the
    * weighted-BFS/path queries consume. Same cap, same representatives,
    * so w counts exactly the blocks where BOTH users survived the
    * rank. */
  def coActivityEdgesWeighted(activity: DataFrame, blockCol: Column,
      userCol: Column, maxBlockUsers: Int): DataFrame =
    blockPairs(activity, blockCol, userCol, maxBlockUsers)
      .groupBy(col("u1"), col("u2")).agg(count(lit(1)).as("w"))

  /** Shared body: per-block capped representatives → within-block user
    * pairs (u1 < u2), one row per (block, pair). */
  private def blockPairs(activity: DataFrame, blockCol: Column, userCol: Column,
      maxBlockUsers: Int): DataFrame = {
    require(maxBlockUsers >= 2, s"maxBlockUsers must be >= 2, got $maxBlockUsers")
    val spark = activity.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    activity.select(blockCol.cast("string").as("blk"),
        userCol.cast("long").as("u")).distinct()
      .select(col("blk"), col("u"),
        // negated so GroupTopK's score-DESC keeps the LOWEST hashes;
        // exact: h < 2^52 after DIV 256
        expr("CAST(-(p60(concat_ws('|', blk, u)) DIV 256) AS DOUBLE)").as("s"))
      .as[(String, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._3, r._2))
      // reversed id ordering => hash ties keep the SMALLEST user first,
      // matching the oracle's (hash, user ASC) rank
      .agg(new GroupTopK[Long](maxBlockUsers)(
        implicitly, Ordering[Long].reverse, implicitly).toColumn.name("top"))
      .flatMap { case (_, top) =>
        val us = top.map(_._2)
        for {
          i <- us.indices.iterator
          j <- (i + 1 until us.length).iterator
        } yield (math.min(us(i), us(j)), math.max(us(i), us(j)))
      }
      .toDF("u1", "u2")
  }

  /** The [[coActivityEdges]] cap's cost, surfaced as telemetry (the
    * q101/q184 convention): full vs capped pair volume from the block
    * occupancy histogram alone — |blocks| input rows, pure integer
    * arithmetic, no pair materialization. One row out. */
  def coActivityCapTelemetry(activity: DataFrame, blockCol: Column,
      userCol: Column, maxBlockUsers: Int): DataFrame = {
    val cap = maxBlockUsers.toLong
    val sizes = activity
      .select(blockCol.cast("string").as("blk"), userCol.cast("long").as("u"))
      .distinct()
      .groupBy(col("blk")).agg(count(lit(1)).as("n"))
    val full = expr("n * (n - 1) DIV 2")
    val capped = when(col("n") <= cap, full)
      .otherwise(lit(cap * (cap - 1) / 2))
    sizes.agg(
      count(lit(1)).as("n_blocks"),
      sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_blocks_capped"),
      max(col("n")).as("max_block_users"),
      sum(full).as("n_pairs_full"),
      sum(capped).as("n_pairs_capped"))
      .withColumn("n_pairs_dropped", col("n_pairs_full") - col("n_pairs_capped"))
  }

  /** PageRank over directed edges (src, dst): returns (node, rank) for
    * every node appearing as source or destination. Parallel edges are
    * collapsed (simple-graph semantics). Dangling nodes (no out-edges)
    * redistribute their mass uniformly each iteration, so total rank
    * mass stays exactly 1 up to float addition. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val rp = Rounds.resolve(edges.sparkSession)
    // the iterative-access exception to the "bounded caches only"
    // policy: every iteration re-reads the edges, so they persist
    // (Dataset cache = MEMORY_AND_DISK — spills, never OOMs); the
    // production alternative for edges past cluster disk is a one-time
    // checkpoint to parquet, same access pattern. The edge cache is
    // pre-partitioned on its per-round join key (src), so the
    // contribution join exchanges edges ONCE here instead of every
    // round (guide §2.4: two operations keyed the same way share one
    // exchange).
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().repartition(col("src")).cache()
    // node count and dangling-node count come off the base's checkpoint
    val b = Rounds.checkpoint(outBase(e, lit(1.0)), col("node"), rp,
      sums = Seq(when(col("out") === 0, 1.0)))
    val n = b.rows.toDouble
    rankRounds(b.df, lit(1.0 / n), b.sums(0) * (1.0 / n), iters, rp)(
      ranks => ranks.filter(col("out") > 0)
        .select(col("node").as("src"), (col("rank") / col("out")).as("share"))
        .join(e, "src")
        .select(col("dst").as("node"), col("share")),
      (in, dangling) => lit((1.0 - damping) / n) + lit(damping) * (in + lit(dangling / n)))
  }

  /** Edge-weighted PageRank: contributions split ∝ edge weight instead
    * of 1/out-degree — rank(src)·w(src,dst)/Σ_d w(src,d) — the natural
    * fit when edges carry interaction counts (a user who mentioned an
    * item 50 times should push 50× the mass of a one-off). Duplicate
    * (src, dst) edges are weight-SUMMED (the multigraph reading, unlike
    * [[pageRank]]'s simple-graph distinct); non-positive and null
    * weights are dropped (they would corrupt the out-mass denominator —
    * a zero-weight edge is "no edge", a negative one is undefined).
    * Nodes whose out-edges were all dropped become dangling and
    * redistribute uniformly, exactly as unweighted dangling nodes do.
    *
    * Scale shape identical to [[pageRank]]: the weight-sum denominator
    * replaces the degree count in the same node base. */
  def weightedPageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst",
      weightCol: String = "weight"): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val rp = Rounds.resolve(edges.sparkSession)
    // weight-summed edge frame, pre-partitioned on the per-round join
    // key (src) so the contribution join exchanges edges once at cache
    // time, not every round — same discipline as pageRank's edge cache
    val e = edges
      .select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("double").as("w"))
      .filter(col("w") > 0) // also drops null weights
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
      .repartition(col("src")).cache()
    val b = Rounds.checkpoint(outBase(e, col("w")), col("node"), rp,
      sums = Seq(when(col("out") === 0, 1.0)))
    val n = b.rows.toDouble
    rankRounds(b.df, lit(1.0 / n), b.sums(0) * (1.0 / n), iters, rp)(
      ranks => ranks.filter(col("out") > 0)
        .select(col("node").as("src"), col("rank"), col("out"))
        .join(e, "src")
        .select(col("dst").as("node"), (col("rank") * col("w") / col("out")).as("share")),
      (in, dangling) => lit((1.0 - damping) / n) + lit(damping) * (in + lit(dangling / n)))
  }

  /** Personalized PageRank: teleport mass goes to a SEED set instead of
    * uniformly everywhere — the "related to these items" ranking
    * (Haveliwala 2002, topic-sensitive PageRank; public algorithm).
    * `seeds` is a one-column frame of node ids; teleport probability is
    * uniform over the seeds present in the graph (seeds that never
    * appear as an edge endpoint are ignored — they could receive no
    * inbound mass anyway). Dangling mass also redistributes over the
    * seed distribution, the standard personalized formulation, so total
    * rank mass stays 1 and non-seed-reachable nodes decay to exactly 0.
    *
    * Scale shape is [[pageRank]]'s plus one broadcast-sized left join
    * marking the seeds in the node base — seeds are query-sized, never
    * corpus-sized. */
  def personalizedPageRank(edges: DataFrame, iters: Int, seeds: DataFrame,
      damping: Double = 0.85, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val rp = Rounds.resolve(edges.sparkSession)
    // edge cache pre-partitioned on the per-round join key, as in
    // pageRank
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .distinct().repartition(col("src")).cache()
    val sd = seeds.toDF("node").distinct().withColumn("is_seed", lit(true))
    // the seed count k and the dangling-seed count (round 1's dangling
    // mass, over k) come off the base's checkpoint
    val b = Rounds.checkpoint(
      outBase(e, lit(1.0)).join(broadcast(sd), Seq("node"), "left"), col("node"), rp,
      sums = Seq(when(col("is_seed"), 1.0), when(col("is_seed") && col("out") === 0, 1.0)))
    val k = b.sums(0)
    require(k > 0, "no seed appears in the graph")
    // static per-node teleport probability: 1/k on seeds, 0 elsewhere
    val base = b.df.select(col("node"), col("out"),
      when(col("is_seed"), lit(1.0 / k)).otherwise(lit(0.0)).as("tele"))
    rankRounds(base, col("tele"), b.sums(1) * (1.0 / k), iters, rp)(
      ranks => ranks.filter(col("out") > 0)
        .select(col("node").as("src"), (col("rank") / col("out")).as("share"))
        .join(e, "src")
        .select(col("dst").as("node"), col("share")),
      (in, dangling) => lit(1.0 - damping) * col("tele") +
        lit(damping) * (in + lit(dangling) * col("tele")))
  }

  /** The PageRank node base in ONE aggregate: each edge tags its src
    * with `out` (1 per edge, or its weight) and its dst with 0, summed
    * per node into (node, out) — the out-degree or out-weight, with
    * 0 marking a dangling node. */
  private def outBase(e: DataFrame, out: Column): DataFrame =
    e.select(col("src").as("node"), out.as("out"))
      .union(e.select(col("dst").as("node"), lit(0.0).as("out")))
      .groupBy(col("node")).agg(sum(col("out")).as("out"))

  /** The round loop shared by the PageRank variants. `base` is the
    * materialized node base (node, out, ...); `shares` maps the rank
    * state to one (node, share) row per edge, keyed by its destination;
    * `rank` gives the next rank from the inbound sum and the dangling
    * mass. The base rows join the shares' aggregate with a zero share,
    * so every node keeps its row without a node-base join. Each round
    * is ONE eager [[Rounds.checkpoint]] of the node-sized rank frame,
    * and its dangling mass (the ranks of out = 0 nodes) is read off
    * that job for the next round, which takes it as a literal: no
    * scalar aggregate job, no broadcast cross join. The checkpoint also
    * keeps the lineage flat, so plan size and recompute cost are
    * constant per iteration (the rank state is read twice per round,
    * which would otherwise nest 2^k recomputes by round k). */
  private def rankRounds(base: DataFrame, rank0: Column, dangling0: Double,
      iters: Int, rp: Option[Int])(shares: DataFrame => DataFrame,
      rank: (Column, Double) => Column): DataFrame = {
    val static = base.columns.filter(_ != "node").toSeq
    val zero = base.withColumn("share", lit(0.0))
    var ranks = base.withColumn("rank", rank0)
    var dangling = dangling0
    for (_ <- 1 to iters) {
      val r = Rounds.checkpoint(
        zero.unionByName(shares(ranks), allowMissingColumns = true)
          .groupBy(col("node"))
          .agg(sum(col("share")).as("in_sum"), static.map(c => max(col(c)).as(c)): _*)
          .select(col("node") +: static.map(col) :+
            rank(col("in_sum"), dangling).as("rank"): _*),
        col("node"), rp, sums = Seq(when(col("out") === 0, col("rank"))))
      ranks = r.df
      dangling = r.sums(0)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Synchronous label propagation (community detection — the Raghavan
    * et al. 2007 algorithm, public): every node starts labeled with its
    * own id; each round, every node adopts the most frequent label
    * among its NEIGHBORS, ties to the smallest label. Unlike
    * [[Dedup.connectedComponents]] (which answers "connected at all?"),
    * LPA's majority rule finds the DENSE regions inside a component.
    * Fixed iteration count + deterministic tie-break keep runs
    * reproducible and oracle-replayable (classic LPA's random order is
    * exactly what a distributed engine can't promise).
    *
    * Scale shape per round: one edge-keyed join labels→neighbors, one
    * (node, label) map-side-combined count, and a per-node argmax as a
    * HASH AGGREGATE — the O(1)-state [[MajorityVote]] Aggregator picks
    * the (cnt DESC, label ASC) winner with map-side partial combine
    * and no sort, so a celebrity hub with millions of distinct
    * neighbor labels is reduced incrementally instead of materialized
    * and sorted inside one window partition (the straggler shape
    * [[GroupTopK]]'s scaladoc warns about). Labels materialize every
    * round (the same consumed-twice/lineage discipline as
    * [[pageRank]]). Node ids must be long-typed (they double as
    * labels inside the integer-exact vote buffer). */
  def labelPropagation(edges: DataFrame, iters: Int,
      aCol: String = "u1", bCol: String = "u2",
      checkpointEvery: Int = 1): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // the MajorityVote udaf votes over (cnt: long, label: long) longs,
    // so node ids must be integral (ids double as labels; the returned
    // label column is bigint after round 1 — see scaladoc). Validate up
    // front so a string-id graph fails with the contract spelled out
    // instead of an encoder/cast analysis error inside round 1.
    locally {
      import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
      edges.select(col(aCol), col(bCol)).schema.fields.foreach { f =>
        require(Seq(ByteType, ShortType, IntegerType, LongType).contains(f.dataType),
          s"labelPropagation node column '${f.name}' must be an integral type " +
            s"(ids double as MajorityVote labels), got ${f.dataType.simpleString}")
      }
    }
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val und = e0.select(col("a").as("src"), col("b").as("dst"))
      .union(e0.select(col("b").as("src"), col("a").as("dst")))
      // iterative-access exception, as in pageRank; pre-partitioned on
      // the per-round join key (dst) so each round's und⋈labels join
      // reads the cached layout instead of re-exchanging the edge side
      // (kept on an r21 A/B: 25.8s vs 27.0s without, 8 graph queries,
      // isolated min-of-5 at sf0.1)
      .repartition(col("dst"))
      .cache()
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
    var i = 1
    while (i <= iters) {
      val counts = und
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // per-node (cnt DESC, label ASC) winner via the MajorityVote
      // hash aggregate — see the class scaladoc for why not a window
      // (hub straggler) and not min(struct) (SortAggregate fallback)
      val mv = udaf(new MajorityVote)
      labels = counts
        .groupBy(col("node"))
        .agg(mv(col("cnt"), col("label")).as("label"))
      if (i % checkpointEvery == 0)
        labels = Rounds.shape(labels, col("node")).localCheckpoint(eager = true)
      i += 1
    }
    labels
  }

  /** Connected components over undirected edges — the graph module's
    * first-class face of the proven min-label/pointer-jumping loop in
    * [[Dedup.connectedComponents]] (same iteration, same O(log diameter)
    * convergence and per-round localCheckpoint discipline; scale
    * rationale there). Graph callers get (node, component) with
    * component = the smallest reachable node id, without importing a
    * dedup module for a graph primitive. Nodes with no edges don't
    * appear (a graph is its edge set here); left-join the node universe
    * for singleton components, exactly as [[Dedup.canonical]] does. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
      aCol: String = "u1", bCol: String = "u2",
      roundPartitions: Option[Int] = None): DataFrame =
    Dedup.connectedComponents(
        edges.select(col(aCol).as("d1"), col(bCol).as("d2")), maxIter,
        roundPartitions)
      .select(col("id").as("node"), col("component"))

  /** Modularity of a node partition (Newman & Girvan 2004 — the
    * standard "is this community structure better than random?" score):
    * per community c, the term e_c/m − (d_c/2m)², where e_c = edges
    * with both endpoints in c, d_c = degree sum over c's nodes, m =
    * total undirected edges; Q is the sum over communities. Returned
    * per-COMMUNITY (label, n_nodes, internal_edges, degree_sum,
    * q_term) so callers can rank communities by contribution and an
    * oracle can check every term — the scalar Q is `sum(q_term)`.
    *
    * This is the quality metric for [[labelPropagation]]'s output:
    * LPA emits a partition, modularity says whether it found structure
    * (Q near 0 = no better than random edge placement).
    *
    * Scale shape: edges canonicalize in one pass; the e_c count is the
    * edge frame joined to the label frame on BOTH endpoints (two keyed
    * shuffles) filtered to label-equal, hash-aggregated per label; d_c
    * is a node-sized join + hash aggregate. m and nothing else is a
    * scalar. No windows, no driver state beyond the one scalar. */
  def modularity(edges: DataFrame, labels: DataFrame,
      aCol: String = "u1", bCol: String = "u2",
      nodeCol: String = "node", labelCol: String = "label"): DataFrame = {
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
      .cache() // read three times: m, degrees, endpoint-label join
    val m = e.count().toDouble // the one scalar (like pageRank's n)
    require(m > 0, "modularity is undefined on an empty edge set")
    val lab = labels.select(col(nodeCol).as("node"), col(labelCol).as("label"))
    val internal = e
      .join(lab.select(col("node").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("internal_edges"))
    val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val byLabel = deg.join(lab, "node")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("degree")).as("degree_sum"))
    byLabel.join(internal, Seq("label"), "left")
      .select(col("label"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        round(coalesce(col("internal_edges"), lit(0L)) / lit(m)
          - pow(col("degree_sum") / lit(2.0 * m), 2), 6).as("q_term"))
  }

  /** Per-(node, landmark) shortest distances from a seed set, by
    * synchronous min-distance propagation (distributed BFS — the
    * landmark/reachability feature builder: "how far is every user from
    * each of these anchor accounts?"). Seeds not present in the graph
    * are ignored (no edge can reach them); pairs beyond `maxHops` are
    * absent rather than ∞, so the output is exactly the ≤ maxHops
    * reachability relation.
    *
    * `directed = false` (default) walks an undirected view of the
    * edges (canonicalized + symmetrized); `directed = true` propagates
    * strictly along aCol→bCol. `weightCol = Some(w)` switches hop
    * counting to MIN-SUM of edge weights (bounded-round Bellman-Ford:
    * cheapest path using ≤ maxHops edges); duplicate (src, dst) edges
    * collapse to their minimum weight, deterministically. Integral
    * weights keep the sums exact cross-engine — fractional weights
    * inherit the usual float-sum caveat (round before comparing).
    *
    * Scale shape per hop: one edge-keyed join (current distances →
    * neighbors) and one (node, seed) min-aggregate, map-side combined;
    * the distance frame is bounded by nodes × |seeds| — seeds are
    * query-sized (landmarks), never corpus-sized. Distances only ever
    * shrink, so the fixed `maxHops` rounds are deterministic and
    * oracle-replayable (the [[pageRank]] convention); the frame
    * materializes every round (consumed twice: the union and the
    * propagation join — the 2^k recompute trap). */
  /** Shared weighted-adjacency prep for the BFS family: dedupe to min
    * weight per (src, dst), symmetrize unless directed, CACHE (the
    * iterative-access exception, as in pageRank — callers unpersist). */
  private def prepAdj(edges: DataFrame, aCol: String, bCol: String,
      directed: Boolean, weightCol: Option[String]): DataFrame = {
    val w = weightCol.map(col).getOrElse(lit(1L))
    val raw = edges.select(col(aCol).as("a"), col(bCol).as("b"), w.as("w"))
      .filter(col("a") =!= col("b"))
    val canon =
      if (directed) raw
      else raw.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"), col("w"))
    val e0 = canon.groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
    val fwd = e0.select(col("a").as("src"), col("b").as("dst"), col("w"))
    (if (directed) fwd
     else fwd.union(e0.select(col("b").as("src"), col("a").as("dst"), col("w"))))
      // pre-partitioned on the per-hop join key (src): the frontier
      // join re-reads this cache every hop, so the adjacency exchanges
      // once here instead of once per hop (guide §2.4; kept on the same
      // r21 A/B as labelPropagation's und cache)
      .repartition(col("src"))
      .cache()
  }

  def bfsDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      aCol: String = "u1", bCol: String = "u2",
      directed: Boolean = false,
      weightCol: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val adj = prepAdj(edges, aCol, bCol, directed, weightCol)
    // directed graphs can have sink-only nodes (never a src) — they
    // are still seedable/reachable, so the node set is src ∪ dst
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()
    var dist = nodes
      .join(broadcast(seeds.toDF("seed")), col("node") === col("seed"), "inner")
      .select(col("node"), col("seed"), lit(0L).as("dist"))
      .localCheckpoint(eager = true)
    var h = 1
    while (h <= maxHops) {
      val prop = dist
        .join(adj, dist("node") === adj("src"))
        .select(col("dst").as("node"), col("seed"), (col("dist") + col("w")).as("dist"))
      dist = Rounds.shape(dist.union(prop)
        .groupBy(col("node"), col("seed"))
        .agg(min(col("dist")).as("dist")), col("node"))
        .localCheckpoint(eager = true)
      h += 1
    }
    adj.unpersist()
    dist
  }

  /** Lexicographic (dist, pred) minimum as a mergeable typed Aggregator
    * — the hash-aggregable argmin [[shortestPathTree]]'s per-round
    * reduction needs: `min(struct(dist, pred))` plans SortAggregate
    * (struct buffers aren't hash-supported — the q138 LPA lesson), and
    * two chained aggregations would double the per-hop shuffles. State
    * is one (dist, pred) pair; ObjectHashAggregate partial+final. */
  private class LexMin2 extends org.apache.spark.sql.expressions.Aggregator[
      (Long, Long), (Long, Long), (Long, Long)] {
    override def zero: (Long, Long) = (Long.MaxValue, Long.MaxValue)
    override def reduce(b: (Long, Long), a: (Long, Long)): (Long, Long) =
      if (a._1 < b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      reduce(a, b)
    override def finish(b: (Long, Long)): (Long, Long) = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    override def outputEncoder: org.apache.spark.sql.Encoder[(Long, Long)] =
      bufferEncoder
  }

  /** [[bfsDistances]] with PATH RECONSTRUCTION: per (node, seed) the
    * shortest ≤`maxHops` distance AND the predecessor on one such
    * shortest path — pred = −1 marks the seed itself. Ties (several
    * shortest paths) resolve to the LOWEST predecessor id, so the tree
    * is deterministic and oracle-replayable.
    *
    * Bounded-round caveat (weighted mode): `dist` is always the exact
    * ≤`maxHops`-hop minimum, but `pred` is the predecessor recorded the
    * round the node's dist last improved — if that predecessor's OWN
    * dist then improves in the final round, the stored (dist, pred)
    * pair is no longer cost-consistent (dist ≠ dist(pred) + w), so
    * walking pred links can recover a path cheaper than dist and/or
    * longer than maxHops edges. Pred chains are guaranteed
    * cost-consistent only once the iteration has CONVERGED (a round
    * that changes no (dist, pred) pair — for hop-count weights any
    * maxHops ≥ diameter); under a deliberately truncated budget, treat
    * pred as the explanation of the hop-bounded estimate, not a
    * certificate. Same per-hop shape as
    * [[bfsDistances]] (edge join + per-(node, seed) reduction, frame
    * bounded by nodes × |seeds|); the reduction is [[LexMin2]], so it
    * stays a hash aggregate with map-side combine. Weights must be
    * non-negative longs (hop counting when `weightCol` is None). */
  def shortestPathTree(edges: DataFrame, seeds: DataFrame, maxHops: Int,
      aCol: String = "u1", bCol: String = "u2",
      directed: Boolean = false,
      weightCol: Option[String] = None): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    val adj = prepAdj(edges, aCol, bCol, directed, weightCol)
    val nodes = adj.select(col("src").as("node"))
      .union(adj.select(col("dst").as("node"))).distinct()
    val lexmin = udaf(new LexMin2)
    var dist = nodes
      .join(broadcast(seeds.toDF("seed")), col("node") === col("seed"), "inner")
      .select(col("node"), col("seed"), lit(0L).as("dist"), lit(-1L).as("pred"))
      .localCheckpoint(eager = true)
    var h = 1
    while (h <= maxHops) {
      val prop = dist
        .join(adj, dist("node") === adj("src"))
        .select(col("dst").as("node"), col("seed"),
          (col("dist") + col("w")).as("dist"), col("src").as("pred"))
      dist = Rounds.shape(dist.union(prop)
        .groupBy(col("node"), col("seed"))
        .agg(lexmin(col("dist"), col("pred")).as("dp"))
        .select(col("node"), col("seed"),
          col("dp._1").as("dist"), col("dp._2").as("pred")), col("node"))
        .localCheckpoint(eager = true)
      h += 1
    }
    adj.unpersist()
    dist
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a BIPARTITE
    * edge frame (u → i): alternating score propagation — an
    * authority is endorsed by good hubs, a hub endorses good
    * authorities — the mutual-reinforcement ranking PageRank's single
    * score can't express on user→item graphs (a power user and a
    * popular item are different kinds of important). Fixed `iters`
    * rounds (the [[pageRank]] determinism convention: bounded,
    * oracle-replayable), MAX-normalized and 6dp-rounded after every
    * half-step; round 1's authority is exactly degree/max-degree (hub
    * seed = 1), an exact rational — bit-identical across engines. From
    * round 2 on the per-node SUMS of 6dp-rounded scores are IEEE
    * accumulation-order dependent (Spark's partial-agg order vs
    * another engine's), so the re-pin holds up to 1-ulp jitter UNDER
    * the 6dp round — exact unless a sum lands on a .5e-6 rounding
    * boundary, the repo's standard reassociation exposure (the q211
    * convention), not a bit-equality guarantee.
    *
    * Scale shape per round: two edge-keyed join+aggregate passes
    * (map-side combined, node-keyed — never all-pairs). Each half-step
    * ends in ONE eager [[Rounds.checkpoint]] of its raw scores whose
    * max marker is the normalizer, applied as a literal in a projection
    * over the materialized blocks — no 1-row max frame, no broadcast
    * cross join. Plan size and recompute cost stay constant in `iters`,
    * and the returned frames read only checkpointed blocks — the edge
    * cache is then released in a finally without robbing callers of its
    * benefit or leaking it on failure. Returns (hubs (u, h),
    * authorities (i, a)) after `iters` full rounds. */
  def hits(edges: DataFrame, uCol: String = "u", iCol: String = "i",
      iters: Int = 2): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val rp = Rounds.resolve(edges.sparkSession)
    val e = edges.select(col(uCol).as("u"), col(iCol).as("i"))
      .distinct().cache()
    // one half-step: materialize the raw scores, max-normalize to 6dp
    def normalized(raw: DataFrame, key: String, score: String): DataFrame = {
      val r = Rounds.checkpoint(raw, col(key), rp, max = Some(col("raw")))
      r.df.select(col(key), round(col("raw") / lit(r.max), 6).as(score))
    }
    try {
      var hub = e.select(col("u")).distinct().withColumn("h", lit(1.0))
      var auth: DataFrame = null
      for (_ <- 1 to iters) {
        auth = normalized(
          e.join(hub, "u").groupBy(col("i")).agg(sum(col("h")).as("raw")), "i", "a")
        hub = normalized(
          e.join(auth, "i").groupBy(col("u")).agg(sum(col("a")).as("raw")), "u", "h")
      }
      (hub, auth)
    } finally {
      e.unpersist(blocking = false): Unit
    }
  }

  /** k-core membership by bounded-round peeling (Seidman 1983; the
    * distributed "peel degree-deficient nodes in rounds" formulation —
    * Montresor et al. 2013): each round drops every node whose CURRENT
    * degree in the surviving subgraph is < k, until no node drops or
    * `maxRounds` is hit. Returns the surviving (node, degree) frame —
    * degree as of the final subgraph. The k-core is the standard
    * "dense enough to matter" filter a notch simpler than
    * [[triangleStats]]: spam rings and celebrity hubs survive high-k
    * cores, drive-by edges don't.
    *
    * Fixed `maxRounds` (like [[pageRank]]'s fixed iterations) keeps the
    * result deterministic and oracle-replayable even when peeling
    * hasn't converged; synchronous rounds mean the result is
    * partition-order-independent. The loop stops early once a round
    * peels nothing, so callers who need the true core pass maxRounds
    * generous (peeling converges in O(diameter)-ish rounds in
    * practice; every round strictly shrinks the node set or stops).
    *
    * Scale shape per round: one degree aggregate over the surviving
    * edge frame (map-side combined, node-keyed) and two semi-joins
    * filtering edges to surviving endpoints — all edge/node-sized,
    * nothing corpus-wide on the driver; edges materialize per round
    * (the same consumed-twice/lineage discipline as [[pageRank]]). */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
      aCol: String = "u1", bCol: String = "u2"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val rp = Rounds.resolve(edges.sparkSession)
    // Early exit once a peel drops nothing (r22): peeling is monotone —
    // a round that removes no edge removes no node, so every later
    // round is an identity and the registered fixed `maxRounds` (the
    // determinism contract) only bounds the loop; the OUTPUT of exiting
    // early is bit-identical (measured on q144's graph at sf0.1: the
    // peel converges after round 1, so rounds 2-4 were pure no-op
    // jobs). The edge count is the row count of each round's own
    // [[Rounds.checkpoint]] — no extra job, and exact (result-stage
    // marker), which an equality test needs. The checkpoint also
    // avoids the 2^k recompute nesting: e is consumed twice per round
    // (degree agg + both semi-joins share it).
    var cur = Rounds.checkpoint(
      edges.select(col(aCol).as("a"), col(bCol).as("b"))
        .filter(col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
        .distinct(), col("a"), rp)
    var r = 1
    var converged = false
    while (r <= maxRounds && !converged) {
      val e = cur.df
      val deg = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      val keep = deg.filter(col("degree") >= k).select(col("node"))
      val next = Rounds.checkpoint(e
        .join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select(col("a"), col("b")), col("a"), rp)
      converged = next.rows == cur.rows
      cur = next
      r += 1
    }
    // degrees of the subgraph as left after exactly maxRounds peels
    // (early exit only skips identity rounds) — no trailing filter, so
    // the oracle replays the identical rounds
    val e = cur.df
    e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
  }

  /** Per-node triangle counts and local clustering coefficient over an
    * undirected simple graph (edges in either orientation; self-loops
    * and parallels dropped) — the community-structure primitive next to
    * components and PageRank.
    *
    * The wedge enumeration uses the DEGREE-ORDERED orientation (the
    * classic "forward" algorithm, Schank & Wagner 2005): every edge
    * points toward its (degree, id)-larger endpoint, wedges are pairs
    * of out-neighbors, and the closing edge is oriented the same way so
    * the lookup is a direct equi-join. That orientation caps every
    * node's out-degree at O(√m), bounding total wedges at O(m^1.5)
    * REGARDLESS of skew — under a naive id-ordering one celebrity hub
    * with a million neighbors enumerates 10^12 wedges; degree-ordering
    * structurally forbids it. Each triangle is found exactly once (at
    * its (degree, id)-smallest vertex), so per-node attribution is a
    * plain explode of the three corners — no dedup shuffle. */
  def triangleStats(edges: DataFrame, aCol: String = "u1", bCol: String = "u2"): DataFrame = {
    val e0 = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct()
    val deg = e0.select(col("a").as("node")).union(e0.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val keyed = e0
      .join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")
    val or = keyed.select(
        when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
          struct(col("a").as("src"), col("b").as("dst"), col("db").as("ddeg")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"), col("da").as("ddeg")))
          .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.ddeg").as("ddeg"))
      // persisted because the wedge self-join and the closure join both
      // read it (MEMORY_AND_DISK — spills); edge-sized, the same
      // iterative-access exception as pageRank's edge cache.
      // Pre-partitioned on src: the wedge enumeration is a self-join on
      // src, so BOTH sides read the cached layout and the join plans
      // with no exchange at all (guide §2.4)
      .repartition(col("src"))
      .cache()
    val wedges = or.as("uv").join(or.as("uw"),
        col("uv.src") === col("uw.src") &&
          struct(col("uv.ddeg"), col("uv.dst")) < struct(col("uw.ddeg"), col("uw.dst")))
      .select(col("uv.src").as("x"), col("uv.dst").as("v"), col("uw.dst").as("w"))
    val tri = wedges.join(
      or.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tri
      .select(explode(array(col("x"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1))), 6)).as("clustering"))
  }
}
