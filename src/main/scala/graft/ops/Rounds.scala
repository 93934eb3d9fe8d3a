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

/** The one round path of the iterative operators
  * ([[Dedup.connectedComponents]], the [[Graph]] family).
  *
  * Every round loop (the PageRank family, [[Graph.labelPropagation]],
  * [[Graph.bfsDistances]], [[Graph.shortestPathTree]], [[Graph.hits]],
  * [[Graph.kCore]], [[Dedup.connectedComponents]] and its seeded form)
  * keys its edges and its round state by ONE `HashPartitioner`
  * ([[partitioner]]) over `spark.sql.shuffle.partitions`. Each call
  * converts its input frame once; the loop-invariant edges are keyed,
  * partitioned once and persisted, so the state ⋈ edges join of every
  * round is narrow. A round then pays one `reduceByKey` shuffle (the CC
  * pointer jump adds one re-key) and one job, and the result becomes a
  * frame once.
  * Exact-arithmetic rounds (component min-labels, LPA votes, BFS
  * min-dists, k-core peels) are identical under any partitioning; the
  * float-summing iteratives (PageRank, HITS, fractional BFS weights) can
  * move in the last ulp exactly as they would under any change of
  * cluster width — the same caveat `spark.sql.shuffle.partitions`
  * already carries.
  *
  * [[iterate]] is the one round loop. An operator hands it a start
  * state and a one-round step; the loop contract:
  *  - it runs at most `rounds` steps, and stops before a step once
  *    `more` reads false off the previous state's markers;
  *  - a budget that runs out while `more` still holds returns the last
  *    state (a documented truncation), or, with `unconverged` set,
  *    throws an `IllegalStateException` carrying its message;
  *  - each superseded state is released (every RDD it holds,
  *    unpersisted without blocking) once the next one is materialized;
  *    when a step throws, the live state is released and the exception
  *    rethrown;
  *  - when no round runs, a start that is still a view (of an edge cache
  *    its caller releases) is materialized on its own, in one job;
  *  - each round's job carries the description `<op> round <r>`; the
  *    caller's description (null included) is restored on exit.
  * The start may be a view that no job has run: round 1's job then
  * materializes it with the round. The operator keeps its own edge
  * cache, unpersists it when it returns, and builds its result frame
  * over the final state: a finished call keeps only the blocks its
  * result reads.
  *
  * [[checkpoint]] is the one materialization point of a round: a
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
  */
object Rounds {

  /** The partitioner every round loop keys its edges and its round
    * state by: `spark.sql.shuffle.partitions` wide. Two RDDs keyed by it
    * join narrowly. */
  def partitioner(spark: SparkSession): HashPartitioner =
    new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)

  /** A round loop's state: the RDDs it holds. */
  trait State { def held: Seq[RDD[_]] }

  /** A round's state plus the scalars its checkpoint job read off the
    * rows: the row count, one exact sum per `sums` function and the max
    * of the `max` function (-Infinity when no row was marked). A start
    * built without a job has no row count (-1) and carries the scalars
    * its first round reads. */
  final case class Round[S](rdd: RDD[S], rows: Long = -1L, sums: IndexedSeq[Double] = Vector(),
      max: Double = Double.NegativeInfinity) extends State { def held: Seq[RDD[_]] = Seq(rdd) }

  /** Run `step` from `start` under the loop contract above: at most
    * `rounds` rounds while `more` holds; `unconverged` turns a budget
    * that runs out while `more` still holds into an error. */
  def iterate[S <: State](op: String, start: S, rounds: Int)(step: S => S,
      more: S => Boolean = (_: S) => true, unconverged: Option[S => String] = None): S = {
    val sc = start.held.head.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    var s = start
    var r = 0
    try releasing(s.held) {
      while (r < rounds && more(s)) {
        r += 1
        sc.setJobDescription(s"$op round $r")
        // the state a step supersedes goes once the step ends, failed or not
        s = try step(s) finally release(s.held)
      }
      // only a start that no round ran on can still be a view
      s.held.filter(_.getStorageLevel == StorageLevel.NONE).foreach(_.localCheckpoint().count())
      unconverged.filter(_ => more(s)).foreach(msg => throw new IllegalStateException(msg(s)))
      s
    } finally sc.setJobDescription(caller)
  }

  /** Materialize one round: mark each row of `state`, keep `keep` of it,
    * localCheckpoint, and count — exactly one Spark job for the state
    * and all of its scalars; a failed job leaves nothing persisted.
    * `keep` must not change a row's key: the marker pass preserves
    * `state`'s partitioner, so the next round still joins it narrowly. */
  def checkpoint[T, S: ClassTag](state: RDD[T])(keep: T => S,
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
    val rows = releasing(Seq(kept))(kept.count())
    val values = marks.map(_._2.value)
    Round(kept, rows, values.take(sums.size).toIndexedSeq,
      if (max.isEmpty) Double.NegativeInfinity else values.last)
  }

  /** Unpersist `rdds` without blocking. */
  private def release(rdds: Seq[RDD[_]]): Unit = rdds.foreach(_.unpersist(blocking = false))

  /** `body`; if it throws, `rdds` (read then) are released first. */
  private[ops] def releasing[A](rdds: => Seq[RDD[_]])(body: => A): A =
    try body catch { case e: Throwable => release(rdds); throw e }

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
