package graft.ops

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Distributed graph analytics beyond [[Dedup.connectedComponents]]:
  * fixed-iteration PageRank (the canonical "importance over a directed
  * graph" measure — public algorithm, Brin & Page 1998) with proper
  * dangling-mass redistribution.
  *
  * Scale shape: the edges are converted ONCE into a node base keyed
  * and partitioned like the rank state ([[Rounds.partitioner]]) and
  * persisted, so every iteration's rank ⋈ base join is narrow. A round
  * is one node-keyed `reduceByKey` of the contributions (map-side
  * combined on the destination; each node also adds a zero share, so
  * every node keeps its row) and one eager [[Rounds.checkpoint]] of the
  * node-sized rank state — one Spark job and no generated code per
  * round. The only scalars the loop reads back, the node count and each
  * round's dangling mass, are read off those checkpoint jobs. The rank
  * state stays node-sized, the base edge-sized; nothing corpus-wide is
  * ever collected, and recompute cost is constant per iteration.
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
    * collapsed (simple-graph semantics); an edge with a null endpoint is
    * dropped. Dangling nodes (no out-edges) redistribute their mass
    * uniformly each iteration, so total rank mass stays exactly 1 up to
    * float addition. */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val (rows, t) = Rounds.endpoints(edges, srcCol, dstCol)
    uniformPageRank(edges, rows, t, weighted = false, iters, damping)
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
    val w = col(weightCol).cast("double")
    val (rows, t) = Rounds.endpoints(edges.filter(w > 0), srcCol, dstCol, w) // drops null weights
    uniformPageRank(edges, rows, t, weighted = true, iters, damping)
  }

  /** [[pageRank]] and [[weightedPageRank]]: teleport uniform over the n
    * nodes. n and the dangling-node count come off the base's
    * checkpoint. */
  private def uniformPageRank(edges: DataFrame, rows: RDD[Row], t: DataType,
      weighted: Boolean, iters: Int, damping: Double): DataFrame =
    withRankBase(edges, rows, weighted, None) { (b, p) =>
      val n = b.rows.toDouble
      rankFrame(edges, t, rankRounds(b.rdd, p, _ => 1.0 / n, b.sums(0) * (1.0 / n), iters)(
        (in, _, dangling) => (1.0 - damping) / n + damping * (in + dangling / n)))
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
    * Scale shape is [[pageRank]]'s plus one query-sized shuffle of the
    * seeds, co-grouped into the node base — seeds are query-sized,
    * never corpus-sized. */
  def personalizedPageRank(edges: DataFrame, iters: Int, seeds: DataFrame,
      damping: Double = 0.85, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    val (rows, t) = Rounds.endpoints(edges, srcCol, dstCol)
    val sd = seeds.toDF("node").select(col("node").cast(t).as("node"))
      .filter(col("node").isNotNull).rdd.map(r => (r.get(0), true))
    // the seed count k and the dangling-seed count (round 1's dangling
    // mass, over k) come off the base's checkpoint
    withRankBase(edges, rows, weighted = false, Some(sd)) { (b, p) =>
      val k = b.sums(1)
      require(k > 0, "no seed appears in the graph")
      // static per-node teleport probability: 1/k on seeds, 0 elsewhere
      val tele = (seed: Boolean) => if (seed) 1.0 / k else 0.0
      rankFrame(edges, t, rankRounds(b.rdd, p, nd => tele(nd.seed), b.sums(2) * (1.0 / k), iters)(
        (in, seed, dangling) =>
          (1.0 - damping) * tele(seed) + damping * (in + dangling * tele(seed))))
    }
  }

  /** A PageRank node: its out-edges and their weights, `out` their sum
    * (the out-degree or out-weight; 0 marks a dangling node), and
    * whether it is a personalization seed. */
  private final case class RankNode(dst: Array[Any], w: Array[Double], out: Double,
      seed: Boolean)

  /** Build, materialize and finally release the PageRank node base, keyed
    * and partitioned like every round: ONE shuffle of the edges, each
    * edge tagging its src with the out-edge and its dst with a bare entry
    * (so a node that is only a destination is dangling), repeated
    * (src, dst) edges collapsed (`weighted`: their weights summed). The
    * base's checkpoint job reads the node count and the sums [dangling
    * nodes, seeds, dangling seeds]; `seeds` are co-grouped in when set. */
  private def withRankBase(edges: DataFrame, rows: RDD[Row], weighted: Boolean,
      seeds: Option[RDD[(Any, Boolean)]])(
      body: (Rounds.Round[(Any, RankNode)], Partitioner) => DataFrame): DataFrame = {
    val p = Rounds.partitioner(edges.sparkSession, Rounds.resolve(edges.sparkSession))
    val add = (m: mutable.LinkedHashMap[Any, Double], d: Any, w: Double) =>
      m(d) = if (weighted) m.getOrElse(d, 0.0) + w else 1.0
    val nodes = rows
      .flatMap { r =>
        Iterator((r.get(0), (r.get(1), if (weighted) r.getDouble(2) else 1.0)), (r.get(1), null))
      }
      .aggregateByKey(mutable.LinkedHashMap.empty[Any, Double], p)(
        (m, e) => { if (e != null) add(m, e._1, e._2); m },
        (m, o) => { o.foreach { case (d, w) => add(m, d, w) }; m })
      .mapValues(m => RankNode(m.keys.toArray, m.values.toArray, m.values.sum, seed = false))
    val base = seeds.fold(nodes)(sd => nodes.cogroup(sd, p).flatMapValues {
      case (nd, s) => nd.headOption.map(_.copy(seed = s.nonEmpty))
    })
    val b = Rounds.checkpoint(base)(identity, sums = Seq(
      x => if (x._2.out == 0) 1.0 else 0.0,
      x => if (x._2.seed) 1.0 else 0.0,
      x => if (x._2.seed && x._2.out == 0) 1.0 else 0.0))
    try body(b, p)
    finally b.rdd.unpersist(blocking = false): Unit
  }

  /** The round loop shared by the PageRank variants, on the materialized
    * node `base`. Each round joins the rank state to the base narrowly
    * (both keyed by `p`), emits one share per out-edge plus a zero share
    * that keeps every node's row, and sums them per node in ONE
    * `reduceByKey`; `rank` gives the next rank from the inbound sum, the
    * seed flag and the dangling mass. The round's [[Rounds.checkpoint]]
    * is its only job, and its dangling mass (the ranks of out = 0 nodes)
    * is read off that job for the next round. The superseded state is
    * released as soon as the next one is materialized. */
  private def rankRounds(base: RDD[(Any, RankNode)], p: Partitioner, rank0: RankNode => Double,
      dangling0: Double, iters: Int)(
      rank: (Double, Boolean, Double) => Double): RDD[(Any, Double)] = {
    var ranks: RDD[(Any, Double)] = base.mapValues(rank0)
    var dangling = dangling0
    for (_ <- 1 to iters) {
      val d = dangling
      val r = Rounds.checkpoint(
        ranks.join(base)
          .flatMap { case (node, (rk, nd)) =>
            Iterator((node, (0.0, nd.out, nd.seed))) ++
              nd.dst.indices.iterator.map(j => (nd.dst(j), (rk * nd.w(j) / nd.out, -1.0, false)))
          }
          .reduceByKey(p, (x, y) => (x._1 + y._1, math.max(x._2, y._2), x._3 || y._3))
          .mapValues { case (in, out, seed) => (rank(in, seed, d), out) },
        release = Seq(ranks))(
        x => (x._1, x._2._1), sums = Seq(x => if (x._2._2 == 0) x._2._1 else 0.0))
      ranks = r.rdd
      dangling = r.sums(0)
    }
    // with no round the ranks are a view of the base, which the caller
    // releases: materialize them on their own
    if (iters == 0) Rounds.checkpoint(ranks)(identity).rdd else ranks
  }

  /** The (node, rank) frame over the final rank state. */
  private def rankFrame(edges: DataFrame, t: DataType, ranks: RDD[(Any, Double)]): DataFrame =
    Rounds.frame(edges.sparkSession, ranks.map { case (n, r) => Row(n, r) },
      ("node", t, true), ("rank", DoubleType, true))

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
    * Scale shape: the distinct edges are keyed twice, by user and by
    * item, each partitioned like the score state and persisted, so each
    * half-step's scores ⋈ edges join is narrow and the half-step is one
    * `reduceByKey` (map-side combined, node-keyed — never all-pairs) and
    * ONE eager [[Rounds.checkpoint]] of the raw scores, whose max marker
    * is the normalizer. Normalizing (Spark `round`'s HALF_UP at 6 dp,
    * [[round6]]) runs lazily over the materialized blocks, so a
    * half-step is one Spark job. An edge with a null endpoint is
    * dropped. The returned frames read only checkpointed blocks, so the
    * edge caches are released in a finally, and each superseded score
    * state as soon as the next is materialized. Returns (hubs (u, h),
    * authorities (i, a)) after `iters` full rounds. */
  def hits(edges: DataFrame, uCol: String = "u", iCol: String = "i",
      iters: Int = 2): (DataFrame, DataFrame) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val spark = edges.sparkSession
    val p = Rounds.partitioner(spark, Rounds.resolve(spark))
    val e = edges.select(col(uCol).as("u"), col(iCol).as("i"))
    val Array(ut, it) = e.schema.fields.map(_.dataType)
    val byU = Rounds.edgeCache(e.filter(col("u").isNotNull && col("i").isNotNull).rdd
      .map(r => (r.get(0), r.get(1))), p)
    // re-keyed from the user-keyed cache: the input plan runs once
    val byI = Rounds.edgeCache(byU.flatMap { case (u, is) => is.iterator.map((_, u)) }, p)
    // one half-step: sum the scores over the edges into the raw scores of
    // the other side, materialized with their max
    def half(scores: RDD[(Any, Double)], adj: RDD[(Any, Array[Any])],
        release: Seq[RDD[_]]): Rounds.Round[(Any, Double)] =
      Rounds.checkpoint(
        scores.join(adj)
          .flatMap { case (_, (s, to)) => to.iterator.map(x => (x, s)) }
          .reduceByKey(p, _ + _),
        release)(identity, max = Some(_._2))
    // max-normalized to 6 dp, applied lazily over the materialized blocks
    def normalized(r: Rounds.Round[(Any, Double)]): RDD[(Any, Double)] = {
      val m = r.max
      r.rdd.mapValues(x => round6(x / m))
    }
    try {
      var h: RDD[(Any, Double)] = byU.mapValues(_ => 1.0)
      var hub, auth: Rounds.Round[(Any, Double)] = null
      var superseded: Seq[RDD[_]] = Nil
      for (_ <- 1 to iters) {
        auth = half(h, byU, superseded)
        hub = half(normalized(auth), byI, Nil)
        h = normalized(hub)
        superseded = Seq(auth.rdd, hub.rdd)
      }
      def scores(r: Rounds.Round[(Any, Double)]): RDD[Row] =
        normalized(r).map { case (k, v) => Row(k, v) }
      (Rounds.frame(spark, scores(hub), ("u", ut, true), ("h", DoubleType, true)),
        Rounds.frame(spark, scores(auth), ("i", it, true), ("a", DoubleType, true)))
    } finally {
      byU.unpersist(blocking = false)
      byI.unpersist(blocking = false): Unit
    }
  }

  /** Spark's `round(x, 6)` on a double: HALF_UP on the shortest decimal
    * form of `x` (not on its binary value); NaN and infinities pass. */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

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
    * partition-order-independent. The loop stops early once no node
    * would peel (that round would be an identity), so callers who need
    * the true core pass maxRounds generous (peeling converges in
    * O(diameter)-ish rounds in practice; every round strictly shrinks
    * the node set or stops). Self-loops and edges with a null endpoint
    * are dropped.
    *
    * Scale shape: the state is the surviving simple graph as node →
    * distinct neighbors, keyed by [[Rounds.partitioner]]; a node's
    * degree is its neighbor count. A round shuffles only the peeled
    * nodes' edges (each peeled node tells its neighbors), co-groups them
    * narrowly into the state and materializes it with ONE
    * [[Rounds.checkpoint]] — one Spark job per round — whose marker
    * counts the nodes the next round would peel. All edge/node-sized,
    * nothing corpus-wide on the driver. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int,
      aCol: String = "u1", bCol: String = "u2"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    val spark = edges.sparkSession
    val p = Rounds.partitioner(spark, Rounds.resolve(spark))
    val (rows, t) = Rounds.endpoints(edges, aCol, bCol)
    // the simple undirected graph as node -> distinct neighbors, self-loops
    // dropped; a node's degree is its neighbor count
    val und = rows.flatMap { r =>
      val (a, b) = (r.get(0), r.get(1))
      if (a == b) Iterator.empty else Iterator((a, b), (b, a))
    }
    // the marker counts the nodes the NEXT peel would drop, so a state
    // that no round can change ends the loop without running that round
    // (peeling is monotone: a round that drops no node is an identity)
    val deficient: ((Any, Array[Any])) => Double = x => if (x._2.length < k) 1.0 else 0.0
    var cur = Rounds.checkpoint(Rounds.adjacency(und, p))(identity, sums = Seq(deficient))
    var r = 1
    while (r <= maxRounds && cur.sums(0) > 0) {
      val s = cur.rdd
      // each dropped node tells its neighbors, the only rows that move
      val gone = s.filter(_._2.length < k)
        .flatMap { case (v, nbrs) => nbrs.iterator.map(w => (w, v)) }
      cur = Rounds.checkpoint(
        s.cogroup(gone, p).flatMapValues { case (own, lost) =>
          own.headOption.filter(_.length >= k).map { nbrs =>
            val drop = lost.toSet
            nbrs.filterNot(drop)
          }.filter(_.nonEmpty)
        },
        release = Seq(s))(identity, sums = Seq(deficient))
      r += 1
    }
    // degrees of the subgraph as left after exactly maxRounds peels
    // (the early exit only skips identity rounds)
    Rounds.frame(spark, cur.rdd.map { case (v, nbrs) => Row(v, nbrs.length.toLong) },
      ("node", t, true), ("degree", LongType, false))
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
