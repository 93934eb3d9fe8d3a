package graft.ops

import java.math.BigDecimal

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, col}
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
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
  * The RDD round loops (the PageRank family and [[Graph.hits]],
  * [[Graph.kCore]], [[Dedup.connectedComponents]] and its seeded form)
  * key their edges and their round state by ONE `HashPartitioner`
  * ([[partitioner]]): the knob's width when set, else
  * `spark.sql.shuffle.partitions`. Each call converts its input frame
  * once; the loop-invariant edges are keyed, partitioned once and
  * persisted, so the state ⋈ edges join of every round is narrow. A
  * round then pays one `reduceByKey` shuffle (the CC pointer jump adds
  * one re-key) and one job, and the result becomes a frame once. LPA,
  * BFS and the shortest-path tree stay on DataFrames: when the knob is
  * set, [[shape]] hash-repartitions their state frame on its key before
  * each materialization. Exact-arithmetic rounds (component min-labels,
  * BFS min-dists, k-core peels) are identical under any partitioning;
  * the float-summing iteratives (PageRank, HITS) can move in the last
  * ulp exactly as they would under any change of cluster width — the
  * same caveat `spark.sql.shuffle.partitions` already carries.
  *
  * [[checkpoint]] is the one materialization point of an RDD round: a
  * marker pass over the state, an eager localCheckpoint and a count —
  * one job — returning the round's scalars (row count, exact sums, max)
  * read off that same job, so a loop pays no extra job for its node
  * count, dangling mass, convergence count or normalizer. The marker
  * contract:
  *  - markers run in a `mapPartitions(preservesPartitioning = true)`
  *    after the round's last shuffle, so they run in the RESULT stage
  *    of the checkpoint job, where Spark applies each task's
  *    accumulator update exactly once (a retried map-stage task would
  *    count its rows twice), and the state keeps its partitioner;
  *  - the row count is the job's own count;
  *  - sums are exact: every double is added as a `BigDecimal`, so the
  *    value does not depend on partitioning, task order or merge order
  *    and is rounded to a double once, at the end;
  *  - no state is shared across calls: each call registers its own
  *    accumulators, so concurrent loops on one session (q145 runs
  *    PageRank and k-core on parallel threads) cannot see each
  *    other's rows.
  * A loop hands the state a round supersedes to `release`, which
  * unpersists it once the new round is materialized, and unpersists its
  * edges when it returns: a finished call keeps only the blocks its
  * result reads.
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

  /** Hash-repartition `df` on `key` iff the session conf sets the knob
    * (the DataFrame loops: LPA, BFS, SPT), else pass it through. */
  def shape(df: DataFrame, key: Column): DataFrame =
    resolve(df.sparkSession).map(p => df.repartition(p, key)).getOrElse(df)

  /** The partitioner every RDD round loop keys its edges and its round
    * state by: [[resolve]]'s width if set, else
    * `spark.sql.shuffle.partitions`. Two RDDs keyed by it join narrowly. */
  def partitioner(spark: SparkSession, n: Option[Int]): HashPartitioner =
    new HashPartitioner(n.getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toInt))

  /** A round's materialized state plus the scalars its checkpoint job
    * read off the rows: the row count, one exact sum per `sums` function
    * and the max of the `max` function (-Infinity when no row was
    * marked). */
  final case class Round[S](rdd: RDD[S], rows: Long, sums: IndexedSeq[Double], max: Double)

  /** Materialize one round: mark each row of `state`, keep `keep` of it,
    * localCheckpoint, and count — exactly one Spark job for the state
    * and all of its scalars. `release` names superseded states, which
    * are unpersisted (non-blocking) once this one is materialized.
    * `keep` must not change a row's key: the marker pass preserves
    * `state`'s partitioner, so the next round still joins it narrowly. */
  def checkpoint[T, S: ClassTag](state: RDD[T], release: Seq[RDD[_]] = Nil)(keep: T => S,
      sums: Seq[T => Double] = Nil, max: Option[T => Double] = None): Round[S] = {
    // fresh accumulators per call: concurrent loops on one session (q145
    // runs PageRank and k-core on parallel threads) never share one
    val marks: Seq[(T => Double, AccumulatorV2[Double, Double])] =
      sums.map(_ -> new ExactSum) ++ max.map(_ -> new Max)
    marks.foreach { case (_, acc) => state.sparkContext.register(acc, "graft.round.marks") }
    val kept = state.mapPartitions(_.map { x =>
      marks.foreach { case (f, acc) => acc.add(f(x)) }
      keep(x)
    }, preservesPartitioning = true).localCheckpoint()
    val rows = kept.count()
    release.foreach(_.unpersist(blocking = false))
    val values = marks.map(_._2.value)
    Round(kept, rows, values.take(sums.size).toIndexedSeq,
      if (max.isEmpty) Double.NegativeInfinity else values.last)
  }

  /** `a` and `b` of `df` cast to their common type (the type a union of
    * the two columns takes), plus `extra` columns, as an RDD of rows;
    * a row with a null endpoint is dropped. Returns the common type too. */
  private[ops] def endpoints(df: DataFrame, a: String, b: String,
      extra: Column*): (RDD[Row], DataType) = {
    val t = df.select(array(col(a), col(b))).schema.head.dataType
      .asInstanceOf[ArrayType].elementType
    val rows = df.select(col(a).cast(t).as("_a") +: col(b).cast(t).as("_b") +: extra: _*)
      .filter(col("_a").isNotNull && col("_b").isNotNull)
    (rows.rdd, t)
  }

  /** A frame over a round state's rows. */
  private[ops] def frame(spark: SparkSession, rows: RDD[Row],
      fields: (String, DataType, Boolean)*): DataFrame =
    spark.createDataFrame(rows,
      StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) }))

  /** Per-key distinct neighbor arrays, keyed and partitioned by `p`: one
    * shuffle of `pairs`. */
  private[ops] def adjacency(pairs: RDD[(Any, Any)], p: Partitioner): RDD[(Any, Array[Any])] =
    pairs.aggregateByKey(mutable.LinkedHashSet.empty[Any], p)(_ += _, _ ++= _)
      .mapValues(_.toArray)

  /** [[adjacency]], persisted: the loop-invariant edge side of every
    * round's join. Callers unpersist it when the loop ends. */
  private[ops] def edgeCache(pairs: RDD[(Any, Any)], p: Partitioner): RDD[(Any, Array[Any])] =
    adjacency(pairs, p).persist(StorageLevel.MEMORY_AND_DISK)

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
