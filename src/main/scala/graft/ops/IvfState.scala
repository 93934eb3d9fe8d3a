package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF coarse-quantizer state + the ASSIGN-ONLY incremental
  * path — q45 rebuilds its centroids on every run, which at corpus
  * scale means re-fitting a quantizer nothing asked to move. The
  * incremental family's pattern (q90's signature store, q204's
  * flagged rebuild) applied to ANN: the model is k·d doubles plus two
  * fit-time scalars — parquet state, sketch-sized — so a NEW embedding
  * batch pays one closure-scan assignment pass against the loaded
  * centroids, never a re-fit, and a DRIFT GATE (mean assigned distance
  * vs fit-time) says when a re-fit is actually due.
  *
  * The quantizer is [[KMeans]]' deterministic Lloyd (lowest-id seed,
  * 6dp-rounded distances and centroid means, lowest-index ties) rather
  * than MLlib's k-means|| — that is what makes the WHOLE chain
  * (fit → persist → load → assign → gate) DuckDB-oracle-replayable,
  * the property q45's MLlib quantizer gives up (its spec-side recall
  * twin q78 stays the validity check for that face).
  *
  * State schema: (cidx, cv, fit_mean_dist, n_fit) — the two scalars
  * ride every row (k rows total; a separate meta table would buy
  * nothing at k·d scale). Doubles round-trip parquet bit-exactly, so
  * assignment after reload equals assignment against the in-memory
  * centroids (CentroidCoverageSpec pins it).
  */
object IvfState {

  /** Loaded quantizer state. */
  final case class Loaded(cents: IndexedSeq[Seq[Double]],
      fitMeanDist: Double, nFit: Long)

  /** Fit on `emb` (the history slice), compute the fit-time mean
    * assigned distance, and persist to `path` (overwrite — versioning
    * is the caller's stateDir discipline). Returns the loaded state so
    * fit-then-use pays no extra read. */
  def fitAndSave(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, path: String): Loaded = {
    val (_, cents) = KMeans.lloyd(emb, idCol, vecCol, k, iters)
    val fit = KMeans.assignScan(emb, idCol, vecCol, cents)
      .agg(round(avg(col("d")), 6).as("m"), count(lit(1)).as("n"))
      .head()
    val (meanD, n) = (fit.getDouble(0), fit.getLong(1))
    val spark = emb.sparkSession
    import spark.implicits._
    cents.zipWithIndex
      .map { case (c, i) => (i, c, meanD, n) }
      .toDF("cidx", "cv", "fit_mean_dist", "n_fit")
      .coalesce(1) // k·d doubles — one file is the right layout
      .write.mode("overwrite").parquet(path)
    Loaded(cents.toIndexedSeq, meanD, n)
  }

  /** Load persisted state; the k·d collect is sketch-sized (the same
    * bound as [[KMeans]]' per-iteration centroid collect). */
  def load(spark: SparkSession, path: String): Loaded = {
    val rows = spark.read.parquet(path)
      .select(col("cidx"), col("cv"), col("fit_mean_dist"), col("n_fit"))
      .collect()
    require(rows.nonEmpty, s"no IVF state at $path")
    val cents = rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toIndexedSeq)
    Loaded(cents.toIndexedSeq, rows.head.getDouble(2), rows.head.getLong(3))
  }

  /** The assign-only path: one closure-scan pass of the new batch
    * against the loaded centroids ([[KMeans.assignScan]] — the argmin
    * [[KMeans.lloyd]] fits with, no N×k intermediates) — (id, cluster,
    * d), no re-fit. */
  def assignOnly(newBatch: DataFrame, idCol: String, vecCol: String,
      state: Loaded): DataFrame =
    KMeans.assignScan(newBatch, idCol, vecCol, state.cents)

  /** One-row drift gate over an [[assignOnly]] frame: mean assigned
    * distance of the new batch vs fit-time, refit flagged when the
    * batch mean exceeds `thresholdPct`% of the fit-time mean. The
    * ratio comparison is integer-scaled on the 6dp-ROUNDED means
    * (new_mean·100 > fit_mean·threshold — both engines compare
    * identical doubles scaled by exact small integers), so the flag
    * cannot be flipped by accumulation-order jitter. */
  def driftGate(assigned: DataFrame, state: Loaded,
      thresholdPct: Int = 120): DataFrame =
    assigned.agg(
        count(lit(1)).as("n_new"),
        round(avg(col("d")), 6).as("new_mean_dist"))
      .select(
        lit(state.nFit).as("n_fit"),
        col("n_new"),
        lit(state.fitMeanDist).as("fit_mean_dist"),
        col("new_mean_dist"),
        // degenerate fit (every vector ON a centroid -> mean 0) must
        // not divide: Spark's non-ANSI /0 yields NULL where DuckDB
        // yields inf — guard explicitly, null ratio; the threshold
        // comparison below still fires (new·100 > 0 when new > 0)
        when(lit(state.fitMeanDist) > 0,
          round(col("new_mean_dist") / lit(state.fitMeanDist), 6))
          .as("drift_ratio"),
        // empty assigned batch => avg is NULL, and NULL*100 > x is NULL,
        // not false — a monitor filtering on refit_due would silently
        // drop the row and getBoolean would NPE. An empty batch has, by
        // definition, not drifted: coalesce to false, matching the
        // verdict-column convention of logRank's `different` and q249's
        // `significant`.
        coalesce(
          col("new_mean_dist") * 100 > lit(state.fitMeanDist) * thresholdPct,
          lit(false)).as("refit_due"))
}
