package graft

import org.apache.spark.sql.functions._
import graft.ops.KMeans

/** Value-level pins for the hand-rolled Lloyd k-means (graft.ops.KMeans):
  * geometry on an unambiguous 2-cluster fixture, the tie and
  * empty-cluster rules the DuckDB oracle also encodes, and determinism
  * across layouts.
  */
class KMeansSpec extends SparkSpec {
  import spark.implicits._

  private def fixture = Seq(
    // two tight groups around (0,0) and (10,10); ids 0 and 1 land one
    // seed in each group
    (0L, Seq(0.1f, 0.0f)), (1L, Seq(10.0f, 10.1f)),
    (2L, Seq(0.0f, 0.2f)), (3L, Seq(9.9f, 10.0f)),
    (4L, Seq(0.2f, 0.1f)), (5L, Seq(10.1f, 9.9f))
  ).toDF("vec_id", "embedding")

  test("lloyd separates two obvious clusters and centroids are the group means") {
    val (asg, cents) = KMeans.lloyd(fixture, "vec_id", "embedding", k = 2, iters = 2)
    val byCluster = asg.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(0L, 2L, 4L).map(byCluster) == Set(0))
    assert(Set(1L, 3L, 5L).map(byCluster) == Set(1))
    // centroid 0 = mean of the three points near the origin, 6dp-rounded
    assert(math.abs(cents(0)(0) - (0.1 + 0.0 + 0.2) / 3) < 1e-6)
    assert(math.abs(cents(0)(1) - (0.0 + 0.2 + 0.1) / 3) < 1e-6)
    assert(math.abs(cents(1)(0) - (10.0 + 9.9 + 10.1) / 3) < 1e-6)
  }

  test("exact distance ties break to the lowest centroid index") {
    // identical points at ids 0 and 1 seed two IDENTICAL centroids:
    // every point ties on distance, so everything must land on index 0
    val dup = Seq(
      (0L, Seq(1.0f, 1.0f)), (1L, Seq(1.0f, 1.0f)),
      (2L, Seq(1.5f, 1.0f)), (3L, Seq(0.5f, 1.0f))
    ).toDF("vec_id", "embedding")
    val (asg, cents) = KMeans.lloyd(dup, "vec_id", "embedding", k = 2, iters = 2)
    assert(asg.collect().map(_.getInt(1)).toSet == Set(0))
    // cluster 1 went empty and must keep its seed centroid verbatim
    assert(cents(1) == Seq(1.0, 1.0))
  }

  test("assignment is partition-layout invariant (shuffle-free argmin)") {
    val a = KMeans.lloyd(fixture, "vec_id", "embedding", k = 2, iters = 3)._1
    val b = KMeans.lloyd(fixture.repartition(7, col("vec_id")),
      "vec_id", "embedding", k = 2, iters = 3)._1
    assert(a.orderBy("id").collect().toSeq == b.orderBy("id").collect().toSeq)
  }

  test("assignScan assigns exactly at k = 600 centroids") {
    // 600 centroids: far beyond what k inlined literal branches should
    // be asked to codegen, trivial as closure data — every vector must
    // land on its nearest (here: centroid index == argmin by
    // construction, ties impossible)
    val k = 600
    val cents = (0 until k).map(i => Seq(i * 10.0, 0.0))
    val pts = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(4998.0f, 0.0f)),
      (2L, Seq(5992.0f, 0.0f))).toDF("vec_id", "embedding")
    val got = KMeans.assignScan(pts, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 500, 2L -> 599))
  }

  test("assignScan == a Catalyst argmin on real embeddings (rounding + tie parity)") {
    // the closure scan hand-replicates round(sqrt(d2), 6)'s BigDecimal
    // HALF_UP semantics — pin it against the Catalyst expression on all
    // real vectors × 20 real centroids, distance included (the d column
    // is where a rounding divergence would show first, before it ever
    // flips an argmin). The reference takes min(struct(d, cidx)) per
    // id: struct ordering is the (dist ASC, idx ASC) tie rule.
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    val (_, cents) = KMeans.lloyd(emb, "vec_id", "embedding", k = 20, iters = 2)
    val scan = KMeans.assignScan(emb, "vec_id", "embedding", cents)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val cdf = cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cidx", "cv")
    val d2 = aggregate(
      zip_with(col("v"), col("cv"), (a, b) => (a - b) * (a - b)),
      lit(0d), (acc, x) => acc + x)
    val ref = emb
      .select(col("vec_id").as("id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
      .crossJoin(cdf)
      .groupBy(col("id"))
      .agg(min(struct(round(sqrt(d2), 6).as("d"), col("cidx"))).as("m"))
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getStruct(1).getInt(1), r.getStruct(1).getDouble(0)))
      .toSeq
    assert(scan == ref)
    assert(scan.map(_._2).distinct.size > 1)
  }

  test("assignScan ties break to the lowest centroid index, like the other faces") {
    val dupCents = Seq(Seq(1.0, 1.0), Seq(1.0, 1.0))
    val asg = KMeans.assignScan(fixture, "vec_id", "embedding", dupCents)
    assert(asg.collect().map(_.getInt(1)).toSet == Set(0))
  }

  test("a null, short or long vector fails loudly, naming its id and lengths") {
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    val cents = Seq(Seq(0.0, 0.0), Seq(10.0, 10.0))
    val bad = Seq(
      (10L, Seq(1.0f)) -> "vector 10 has length 1, centroids have length 2",
      (11L, Seq(1.0f, 2.0f, 3.0f)) -> "vector 11 has length 3, centroids have length 2",
      (12L, null: Seq[Float]) -> "vector 12 is null")
    for ((row, msg) <- bad) {
      val df = fixture.union(Seq(row).toDF("vec_id", "embedding"))
      // the lowest-id seeds are the valid fixture rows, so lloyd reaches
      // the kernel: both entry points hit the same per-row check
      for (run <- Seq(
          () => KMeans.assignScan(df, "vec_id", "embedding", cents).collect(),
          () => KMeans.lloyd(df, "vec_id", "embedding", k = 2, iters = 1)._1.collect())) {
        val e = intercept[Exception](run())
        assert(chain(e).exists {
          case x: IllegalArgumentException => x.getMessage.contains(msg)
          case _ => false
        }, chain(e).map(_.toString).mkString(" | "))
      }
    }
  }

  test("lloyd centroids and assignments do not depend on shuffle partitions or AQE") {
    // the centroid update sums doubles in shuffle order; the 6dp
    // rounding must leave the same centroids at every width
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    def run() = {
      val (asg, cents) = KMeans.lloyd(emb, "vec_id", "embedding", k = 20, iters = 2)
      (cents, asg.orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq)
    }
    val runs = Seq("1", "7", "13").map(p =>
      under("spark.sql.shuffle.partitions" -> p)(run())) :+
      under("spark.sql.adaptive.enabled" -> "false")(run())
    runs.tail.foreach(r => assert(r == runs.head))
    assert(runs.head._2.map(_._2).distinct.size > 1) // the pin is not vacuous
  }

  test("scaledK: kmin clamp below, integer ceil-div above") {
    assert(KMeans.scaledK(500) == 10)    // sf0.01 corpus — clamped
    assert(KMeans.scaledK(2000) == 20)   // sf0.1 corpus — scaled
    assert(KMeans.scaledK(2001) == 21)   // ceil, not floor
    assert(KMeans.scaledK(100000000L) == 1000000) // corpus-sized k stays exact
    assert(KMeans.scaledK(0) == 10)
    // past Int range the op fails loudly instead of .toInt-wrapping
    val e = intercept[IllegalArgumentException] {
      KMeans.scaledK(Long.MaxValue - 100)
    }
    assert(e.getMessage.contains("raise divisor"))
  }

  test("iters = 0 assigns against the raw lowest-id seeds") {
    val (asg, cents) = KMeans.lloyd(fixture, "vec_id", "embedding", k = 2, iters = 0)
    // seeds are rows 0 and 1 cast to double, untouched
    assert(cents(0) == Seq(0.1f.toDouble, 0.0))
    assert(cents(1) == Seq(10.0f.toDouble, 10.1f.toDouble))
    assert(asg.filter(col("id") === 2L).head().getInt(1) == 0)
    assert(asg.filter(col("id") === 3L).head().getInt(1) == 1)
  }
}
