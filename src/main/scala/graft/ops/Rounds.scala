package graft.ops

import java.math.BigDecimal

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.AccumulatorV2

/** Round-state partition sizing for the iterative operators
  * ([[Dedup.connectedComponents]], the [[Graph]] family) — the
  * 1000×-pencil's knob #2 made a real lever instead of a documented
  * aspiration.
  *
  * The iteratives exchange a node-sized state frame every round
  * (labels, ranks, frontiers) and localCheckpoint it to keep lineage
  * flat. At test scale the default `spark.sql.shuffle.partitions`
  * is fine; in the growing-domain regime (the pencil's measured
  * 0.2–1.6 GB/round at 1000×) the round exchanges and the
  * checkpointed blocks should be sized to ~128 MB per partition —
  * `partitions ≈ round-state bytes / 128 MB` — so no single task
  * carries an outsized block and the per-round shuffle fans out
  * across the cluster instead of funneling through a handful of
  * reducers.
  *
  * Two ways to set it, both defaulting to current behavior:
  *  - the session conf `spark.graft.round.partitions` — one switch
  *    for every iterative op, no signature churn;
  *  - an explicit `roundPartitions` argument where an op exposes one
  *    ([[Dedup.connectedComponents]]); the argument wins over the
  *    conf.
  *
  * When active, the round-state frame is hash-repartitioned on its
  * key before each materialization, so the checkpointed state AND the
  * next round's join exchange inherit the requested width (a cached
  * edge frame partitioned on its join key is likewise exchanged once,
  * not per round). Exact-arithmetic rounds (component min-labels, BFS
  * min-dists, k-core peels — all longs) are identical under any
  * partitioning; the float-summing iteratives (PageRank, HITS) can
  * move in the last ulp exactly as they would under any change of
  * cluster width — the same caveat `spark.sql.shuffle.partitions`
  * already carries.
  *
  * [[checkpoint]] is the one materialization point of a round: it
  * shapes the state, checkpoints it eagerly and returns the round's
  * scalars (row count, exact sums, max) read off that same job, so a
  * loop pays no extra job for its node count, dangling mass, convergence
  * count or normalizer. The marker contract:
  *  - markers are evaluated in a projection ABOVE the [[shape]]
  *    exchange, so they run in the RESULT stage of the checkpoint job,
  *    where Spark applies each task's accumulator update exactly once
  *    (a retried map-stage task would count its rows twice);
  *  - sums are exact: every double is added as a `BigDecimal`, so the
  *    value does not depend on partitioning, task order or merge order
  *    and is rounded to a double once, at the end;
  *  - no state is shared across calls: each call registers its own
  *    accumulators, so concurrent loops on one session (q145 runs
  *    PageRank and k-core on parallel threads) cannot see each
  *    other's rows.
  */
object Rounds {

  /** Session conf key: positive int; unset (default) = leave every
    * iterative op's partitioning to `spark.sql.shuffle.partitions`. */
  val PartitionsKey = "spark.graft.round.partitions"

  /** The active round-partition count: an explicit argument wins,
    * else the session conf, else None (current behavior). Non-positive
    * values throw, matching the non-numeric path — silence is reserved
    * for the UNSET case only, so a typo'd `0` can't silently disable
    * the knob (r20 ADVICE). */
  def resolve(spark: SparkSession,
      explicit: Option[Int] = None): Option[Int] = {
    val v = explicit.orElse(spark.conf.getOption(PartitionsKey).map { s =>
      try s.trim.toInt
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"$PartitionsKey must be a positive int, got '$s'")
      }
    })
    v.foreach(p => require(p > 0,
      s"$PartitionsKey / roundPartitions must be a positive int, got $p"))
    v
  }

  /** Hash-repartition `df` on `key` iff the knob is active. */
  def shape(df: DataFrame, key: Column, n: Option[Int]): DataFrame =
    n.map(p => df.repartition(p, key)).getOrElse(df)

  /** Conf-only form for ops without an explicit argument (the Graph
    * iteratives): shape by the session conf, or pass through. */
  def shape(df: DataFrame, key: Column): DataFrame =
    shape(df, key, resolve(df.sparkSession))

  /** A round's materialized state plus the scalars its checkpoint job
    * read off the rows: the row count, one exact sum per `sums` column
    * and the max of the `max` column (nulls skipped; -Infinity when the
    * max saw no value). */
  final case class Round(df: DataFrame, rows: Long, sums: IndexedSeq[Double], max: Double)

  /** Shape `df` on `key` (see [[shape]]), add the markers above that
    * exchange, and localCheckpoint eagerly — one job chain for the
    * state and all of its scalars. `drop` names columns the markers
    * read but the checkpointed state leaves out. */
  def checkpoint(df: DataFrame, key: Column, n: Option[Int],
      sums: Seq[Column] = Nil, max: Option[Column] = None,
      drop: Seq[String] = Nil): Round = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("graft.round.rows")
    val totals = sums.map(_ => new ExactSum)
    val top = new Max
    (totals ++ max.map(_ => top)).foreach(sc.register(_, "graft.round.marks"))
    // one marker column per scalar, each a side-effecting udf that is
    // nondeterministic so the optimizer never duplicates, reorders or
    // constant-folds it; a primitive-typed udf is skipped on null input
    def fold(acc: AccumulatorV2[Double, Double], c: Column): Column =
      udf((x: Double) => { acc.add(x); true }).asNondeterministic()(c.cast("double"))
    val markers = udf(() => { rows.add(1L); true }).asNondeterministic()() +:
      (sums.zip(totals).map { case (c, acc) => fold(acc, c) } ++ max.map(fold(top, _)))
    val names = markers.indices.map(i => s"_round_mark$i")
    val shaped = shape(df, key, n)
    val keep = shaped.columns.toSeq.filterNot(drop.contains).map(c => col(c))
    val state = shaped
      .select(keep ++ markers.zip(names).map { case (m, name) => m.as(name) }: _*)
      .localCheckpoint(eager = true)
    Round(state.drop(names: _*), rows.value, totals.map(_.value).toIndexedSeq, top.value)
  }

  /** Exact double sum: every term is added as a `BigDecimal`, so the
    * value is the same for any order of adds and merges, rounded to a
    * double once when read. A NaN or infinite term has no exact value
    * and fails the task (`NumberFormatException`). */
  private[graft] final class ExactSum extends AccumulatorV2[Double, Double] {
    private var total = BigDecimal.ZERO
    override def isZero: Boolean = total.signum == 0
    override def copy(): ExactSum = { val c = new ExactSum; c.total = total; c }
    override def reset(): Unit = total = BigDecimal.ZERO
    override def add(x: Double): Unit =
      if (x != 0.0) total = total.add(new BigDecimal(x))
    override def merge(other: AccumulatorV2[Double, Double]): Unit = other match {
      case o: ExactSum => total = total.add(o.total)
      case o => throw new UnsupportedOperationException(
        s"cannot merge ${getClass.getName} with ${o.getClass.getName}")
    }
    override def value: Double = total.doubleValue
  }

  /** Max of the added doubles; -Infinity when nothing was added. */
  private[graft] final class Max extends AccumulatorV2[Double, Double] {
    private var m = Double.NegativeInfinity
    override def isZero: Boolean = m == Double.NegativeInfinity
    override def copy(): Max = { val c = new Max; c.m = m; c }
    override def reset(): Unit = m = Double.NegativeInfinity
    override def add(x: Double): Unit = m = math.max(m, x)
    override def merge(other: AccumulatorV2[Double, Double]): Unit = other match {
      case o: Max => m = math.max(m, o.m)
      case o => throw new UnsupportedOperationException(
        s"cannot merge ${getClass.getName} with ${o.getClass.getName}")
    }
    override def value: Double = m
  }
}
