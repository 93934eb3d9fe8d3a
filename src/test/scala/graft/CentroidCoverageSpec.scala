package graft

import org.apache.spark.sql.functions._
import graft.ops.Similarity

/** Value-level checks for the round-10 ops behind q96/q97/q98: group
  * centroids + centroid-cosine scoring, the vocab coverage curve, and
  * the mergeable fixed-bin quantile sketch. The queries themselves are
  * hash-checked against DuckDB; these specs pin the algebra the oracle
  * can't state directly (exact centroid values, merge = global build,
  * bin-width error bound vs the true percentile).
  */
class CentroidCoverageSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    // group 0: centroid (0.5, 0.5)
    (0L, Seq(1.0f, 0.0f), 0),
    (1L, Seq(0.0f, 1.0f), 0),
    // group 1: singleton — centroid IS the vector
    (2L, Seq(3.0f, 4.0f), 1))
    .toDF("vec_id", "embedding", "label")

  test("groupCentroids: elementwise mean per group, exact values") {
    val prep = Similarity.prepare(fixture, keep = Seq("label"))
    val cents = Similarity.groupCentroids(prep, col("label"))
      .orderBy(col("grp")).collect()
    assert(cents.length == 2)
    assert(cents(0).getSeq[Double](1) == Seq(0.5, 0.5))
    assert(cents(1).getSeq[Double](1) == Seq(3.0, 4.0))
    assert(math.abs(cents(1).getDouble(2) - 5.0) < 1e-12) // cnrm = |(3,4)|
  }

  test("centroidCosine: singleton group scores 1; symmetric pair ties") {
    val prep = Similarity.prepare(fixture, keep = Seq("label"))
    val scored = Similarity.centroidCosine(prep, col("label"))
      .orderBy(col("id")).collect()
    // (1,0) and (0,1) are mirror images of their centroid: equal cosines
    assert(scored(0).getDouble(2) == scored(1).getDouble(2))
    assert(math.abs(scored(0).getDouble(2) - 1.0 / math.sqrt(2)) < 1e-6)
    assert(scored(2).getDouble(2) == 1.0) // own centroid
  }

  test("q96: exactly min(3, group size) outliers per label") {
    val out = SparkEntry.queries("q96_embed_outliers")(spark, sf)
    val perLabel = out.groupBy(col("label"))
      .agg(sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_out"),
        count(lit(1)).as("n"))
      .collect()
    assert(perLabel.nonEmpty)
    perLabel.foreach { r =>
      assert(r.getLong(1) == math.min(3L, r.getLong(2)),
        s"label ${r.get(0)}: ${r.getLong(1)} outliers of ${r.getLong(2)}")
    }
  }

  test("q97: coverage is monotone in vocab size, in (0, 1], clamps n_terms") {
    val rows = SparkEntry.queries("q97_vocab_coverage")(spark, sf)
      .orderBy(col("vocab_size")).collect()
    assert(rows.length == 3)
    val cov = rows.map(_.getDouble(4))
    assert(cov.forall(c => c > 0.0 && c <= 1.0), cov.mkString(","))
    assert(cov.sliding(2).forall { case Array(a, b) => b >= a }, cov.mkString(","))
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getInt(0), s"n_terms ${r.getLong(1)} > N ${r.getInt(0)}")
      assert(r.getLong(2) <= r.getLong(3)) // covered <= total
    }
  }

  test("q99: support floor respected, pmi ordered desc, within log bounds") {
    val rows = SparkEntry.queries("q99_bigram_pmi")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    assert(rows.forall(_.getLong(2) >= 5), "support floor violated")
    val pmis = rows.map(_.getDouble(3))
    assert(pmis.sliding(2).forall { case Array(a, b) => a >= b },
      pmis.mkString(","))
    // PMI(x,y) <= -ln(p(x|y) upper bound) ... at minimum it is finite
    assert(pmis.forall(p => !p.isNaN && !p.isInfinite))
  }

  test("quantile sketch: shard-merge equals global build; bin-width error bound") {
    val events = graft.queries.Tables(spark, sf, "events")
      .filter(col("value").isNotNull)
    def sketch(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(floor(col("value") / 5).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
    // mergeability: sum of per-shard sketches == sketch of the union
    val global = sketch(events)
    val merged = events.groupBy(col("event_type"),
        floor(col("value") / 5).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("bin")).agg(sum(col("n")).as("n"))
    assert(global.exceptAll(merged).isEmpty && merged.exceptAll(global).isEmpty)
    // estimate within one bin width of the true percentile
    val est = SparkEntry.queries("q98_quantile_sketch")(spark, sf)
      .select(col("q"), col("est")).collect()
      .map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val vals = events.select(col("value")).as[Double].collect().sorted
    est.foreach { case (q, e) =>
      val exact = vals(math.min((math.ceil(q * vals.length) - 1).toInt.max(0),
        vals.length - 1))
      assert(e >= exact && e - exact <= 5.0 + 1e-9,
        s"q=$q est=$e exact=$exact not within one bin width above")
    }
  }

  test("IvfState: parquet round trip is exact; assign-only == direct; self-drift ratio 1") {
    import graft.ops.{IvfState, KMeans}
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    val fitHalf = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val newHalf = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val path = java.nio.file.Files.createTempDirectory("ivf_state").toString + "/state"
    val saved = IvfState.fitAndSave(fitHalf, "vec_id", "embedding",
      k = 10, iters = 2, path)
    val loaded = IvfState.load(spark, path)
    // doubles round-trip parquet bit-exactly: state is the SAME model
    assert(loaded.cents == saved.cents)
    assert(loaded.fitMeanDist == saved.fitMeanDist && loaded.nFit == saved.nFit)
    assert(loaded.nFit == fitHalf.count())
    // assign-only through the loaded state == direct assignment against
    // the in-memory centroids (the persistence layer adds nothing)
    val viaState = IvfState.assignOnly(newHalf, "vec_id", "embedding", loaded)
      .orderBy(col("id")).as[(Long, Int, Double)].collect().toSeq
    val direct = KMeans.assignScan(newHalf, "vec_id", "embedding",
        saved.cents).orderBy(col("id")).as[(Long, Int, Double)].collect().toSeq
    assert(viaState == direct && viaState.nonEmpty)
    // gate identity: the fit corpus drifts 1.0 against itself, no refit
    val self = IvfState.driftGate(
      IvfState.assignOnly(fitHalf, "vec_id", "embedding", loaded), loaded)
      .head()
    assert(self.getDouble(self.fieldIndex("drift_ratio")) == 1.0, self.toString)
    assert(!self.getBoolean(self.fieldIndex("refit_due")), self.toString)
  }
}
