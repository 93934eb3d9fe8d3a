package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Lloyd's k-means over an embedding column, hand-rolled on DataFrame
  * ops so every step is deterministic and DuckDB-oracle-checkable
  * (MLlib's KMeans seeds with k-means|| sampling and reports
  * run-dependent cluster ids, so its raw output can't be pinned
  * cross-engine).
  *
  * Scale shape: centroids are driver-side state (k×d doubles — the same
  * sketch-sized state MLlib's KMeans keeps between iterations), shipped
  * once per task in the assignment closure as primitive arrays.
  * ASSIGNMENT is therefore shuffle-free — one scan computes the argmin
  * over the k centroids per row, no N×k crossJoin, no exchange. The only
  * shuffle per iteration is the centroid UPDATE: a (cluster, dim)
  * grouped mean — k·d groups with map-side partial aggregation, so the
  * exchange carries O(partitions · k · d) rows regardless of N. Per
  * iteration at 100 TB: one full scan + one tiny agg; the k×d collect is
  * sketch-sized, never O(N).
  *
  * Determinism (cross-engine, the q129/q146 bounds convention):
  *  - float inputs are cast to double before any arithmetic;
  *  - the argmin orders by round(L2 distance, 6dp) with ties broken by
  *    the LOWEST centroid index, so an engine-side 1-ulp summation
  *    difference can't flip an assignment unless two rounded distances
  *    collide exactly — in which case both engines agree on the
  *    tie-break;
  *  - updated centroid means are rounded to 6dp each round, re-pinning
  *    both engines to identical centroids before the next assignment;
  *  - seeding is the k lowest-id vectors (no RNG);
  *  - a cluster that goes empty keeps its previous centroid.
  */
object KMeans {

  /** Run `iters` Lloyd iterations; returns the final assignment frame
    * (`id`, `cluster`) plus the final centroids (for callers that score
    * against them). Every iteration and the final pass assign through
    * [[assignScan]]'s kernel, so k can scale with the corpus
    * ([[scaledK]], SemDeDup's prescription) — centroids are closure
    * DATA, not expression literals, so there is no codegen or plan-size
    * ceiling on k, and no N×k intermediate rows. [[oracleCtes]] /
    * [[oracleCtesScaledK]] describe the same chain in SQL. */
  def lloyd(emb: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int): (DataFrame, Seq[Seq[Double]]) = {
    require(k > 0, s"k must be > 0, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // iterative-access cache (the S2 exception family): each iteration
    // re-reads v (argmin input carrying the vectors for the update), so
    // the loop would otherwise re-scan and re-cast the corpus per
    // round. Released before returning — the final assignment pays one
    // uncached scan rather than leaking cache into the caller's
    // session.
    val v = normalize(emb, idCol, vecCol).cache()
    try {
      var cents = seedCents(v, k)
      // assignScanV keeps the vector column, so the centroid update
      // reads it directly — no id-join rebind pass at all
      for (_ <- 1 to iters)
        cents = updatedCents(assignScanV(v, cents), cents)
      (assignScanV(normalize(emb, idCol, vecCol), cents).select(col("id"), col("cluster")),
        cents)
    } finally {
      v.unpersist(blocking = false): Unit
    }
  }

  /** Nearest-centroid assignment: (id, cluster, d) in one pass, no
    * join, no aggregate, no N×k intermediates. Centroids ship once per
    * task as primitive arrays; per row the argmin loop sums squared
    * diffs in dim order, takes the sqrt, then applies the same
    * BigDecimal-HALF_UP 6dp round Spark's `round()` applies, ties to
    * the lowest centroid index — so it agrees with the SQL oracle on
    * every assignment (pinned in KMeansSpec against a Catalyst argmin).
    * A null vector, or one whose length differs from the centroids',
    * fails the job with an IllegalArgumentException naming its id. */
  def assignScan(emb: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame =
    assignScanV(normalize(emb, idCol, vecCol), cents)
      .select(col("id"), col("cluster"), col("d"))

  private def assignScanV(v: DataFrame,
      cents: Seq[Seq[Double]]): DataFrame = {
    require(cents.nonEmpty, "assignScan needs at least one centroid")
    val cs: Array[Array[Double]] = cents.map(_.toArray).toArray
    val dim = cs(0).length
    require(cs.forall(_.length == dim),
      s"assignScan: centroids differ in length (${cs.map(_.length).distinct.mkString(", ")})")
    val pick = udf { (id: Any, vec: Seq[Double]) =>
      if (vec == null) throw new IllegalArgumentException(s"KMeans: vector $id is null")
      val x = vec.toArray
      if (x.length != dim) throw new IllegalArgumentException(
        s"KMeans: vector $id has length ${x.length}, centroids have length $dim")
      // pass 1 — unrounded min squared distance, pure flops. The exact
      // contract rounds each distance (BigDecimal via Double.toString —
      // the Catalyst Round semantics) BEFORE comparing, but rounding is
      // monotone non-decreasing, so the winning ROUNDED value is
      // round6(sqrt(sMin)), and any centroid tying it must satisfy
      // sqrt(s_i) <= sqrt(sMin) + 1e-6 (each side sits within 0.5e-6 of
      // the shared grid point). Restricting the BigDecimal work to that
      // band is therefore EXACT — and drops the per-row
      // Double.toString+BigDecimal count from k to ~1 (measured on the
      // r18 100x rehearsal: q203 814s -> the flop-bound cost; the
      // all-centroid rounding was 490x super-linear).
      var sMin = Double.PositiveInfinity
      var i = 0
      while (i < cs.length) {
        val c = cs(i)
        var s = 0.0
        var j = 0
        while (j < x.length) { val t = x(j) - c(j); s += t * t; j += 1 }
        if (s < sMin) sMin = s
        i += 1
      }
      // pass 2 — original rounded-argmin semantics over the ambiguity
      // band only (threshold slightly generous against float error in
      // T itself: out-of-band centroids round strictly above the
      // winning value, so extras can only lose, never win)
      val tBound = math.sqrt(sMin) + 1.000001e-6
      val t2 = tBound * tBound
      var bi = 0
      var bd = Double.PositiveInfinity
      i = 0
      while (i < cs.length) {
        val c = cs(i)
        var s = 0.0
        var j = 0
        while (j < x.length) { val t = x(j) - c(j); s += t * t; j += 1 }
        if (s <= t2) {
          val d = BigDecimal(math.sqrt(s))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          if (d < bd) { bd = d; bi = i }
        }
        i += 1
      }
      (bi, bd)
    }
    v.select(col("id"), col("v"), pick(col("id"), col("v")).as("r"))
      .select(col("id"), col("v"), col("r").getField("_1").as("cluster"),
        col("r").getField("_2").as("d"))
  }

  /** SemDeDup-style corpus-scaled cluster count: k = max(kmin,
    * ⌈n/divisor⌉), integer arithmetic. The clustering's whole job is to
    * keep per-cluster pair blocks bounded as the corpus grows, so k
    * must grow WITH n — a pinned k makes block sizes Θ(n/k) and the
    * pair volume quadratic again. n comes from a 1-row count — k is
    * plan state, driver-sized by definition, like a schema. */
  def scaledK(n: Long, divisor: Long = 100L, kmin: Int = 10): Int = {
    require(divisor > 0 && kmin > 0, s"divisor/kmin must be > 0, got $divisor/$kmin")
    val k = math.max(kmin.toLong, (n + divisor - 1) / divisor)
    // fail loudly instead of letting .toInt wrap: a k past Int range
    // means the divisor is mis-sized for the corpus, not a real ask
    require(k <= Int.MaxValue,
      s"scaledK: k=$k exceeds Int range - raise divisor (n=$n, divisor=$divisor)")
    k.toInt
  }

  private def normalize(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("id"),
      expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v"))

  /** Lowest-id seeding (no RNG) — k rows, driver-sized. */
  private def seedCents(v: DataFrame, k: Int): IndexedSeq[Seq[Double]] = {
    val seed = v.orderBy(col("id")).limit(k).collect()
    require(seed.length == k, s"need at least $k vectors to seed, got ${seed.length}")
    seed.map { r =>
      require(!r.isNullAt(1), s"KMeans: vector ${r.get(0)} is null")
      r.getSeq[Double](1).toIndexedSeq
    }.toIndexedSeq
  }

  /** One centroid update from an assignment frame carrying (cluster, v):
    * (cluster, dim)-grouped 6dp-rounded means — k·d groups with
    * map-side combine, so the exchange and the collect are sketch-sized
    * regardless of N. Empty clusters keep their previous centroid. */
  private def updatedCents(withVec: DataFrame,
      cents: IndexedSeq[Seq[Double]]): IndexedSeq[Seq[Double]] = {
    val upd = withVec
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("cluster"), col("pos"))
      .agg(round(avg(col("x")), 6).as("m"))
      .collect()
      .groupBy(_.getInt(0))
      .map { case (c, rows) =>
        c -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
      }
    cents.indices.map(i => upd.getOrElse(i, cents(i)))
  }

  /** The DuckDB-SQL twin of [[lloyd]] + final assignment, unrolled
    * iteration by iteration (CTE chain `c0 → a1 → u1 → c1 → … → afin`),
    * over `embeddings(vec_id, embedding)`. Exposed so the oracle and
    * any dependent query build from one generator instead of a
    * hand-maintained copy. `eWhere` filters the fit corpus (the
    * incremental-IVF oracle fits on a history slice, then assigns the
    * new batch against the same `c<iters>` centroids CTE). */
  def oracleCtes(k: Int, iters: Int, eWhere: String = "TRUE"): String =
    ctesWithSeed(
      s""" c0 AS (SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cidx, v
         |        FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT $k))""".stripMargin,
      iters, eWhere)

  /** [[oracleCtes]] with the k of [[scaledK]] computed IN SQL from the
    * corpus itself (one `kk` scalar CTE, integer ceil-div), so one
    * oracle string is correct at every SF — the seed CTE takes the
    * k lowest-id vectors via a rank filter instead of a literal LIMIT.
    * Only the seeding depends on k; the iteration CTEs are k-free. */
  def oracleCtesScaledK(kmin: Int, divisor: Int, iters: Int): String =
    ctesWithSeed(
      s""" kk AS (SELECT greatest($kmin, (count(*) + ${divisor - 1}) // $divisor) AS k
         |        FROM e),
         | c0 AS (SELECT rn - 1 AS cidx, v FROM (
         |        SELECT v, row_number() OVER (ORDER BY vec_id) AS rn FROM e)
         |        WHERE rn <= (SELECT k FROM kk))""".stripMargin,
      iters)

  private def ctesWithSeed(seedCte: String, iters: Int,
      eWhere: String = "TRUE"): String = {
    def assignCte(name: String, cents: String) =
      s""" $name AS (SELECT vec_id, cidx AS cluster FROM (
         |  SELECT e.vec_id, c.cidx,
         |         row_number() OVER (PARTITION BY e.vec_id
         |            ORDER BY round(list_distance(e.v, c.v), 6), c.cidx) AS rn
         |  FROM e CROSS JOIN $cents c) WHERE rn = 1)""".stripMargin
    val head =
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |           WHERE $eWhere),
         |$seedCte""".stripMargin
    val iterations = (1 to iters).flatMap { it =>
      Seq(
        assignCte(s"a$it", s"c${it - 1}"),
        s""" u$it AS (SELECT cidx, list(m ORDER BY pos) AS v FROM (
           |  SELECT a.cluster AS cidx, ux.pos, round(avg(ux.x), 6) AS m
           |  FROM (SELECT vec_id, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM e) ux
           |  JOIN a$it a USING (vec_id) GROUP BY 1, 2) GROUP BY 1)""".stripMargin,
        s""" c$it AS (SELECT p.cidx, COALESCE(u.v, p.v) AS v
           |  FROM c${it - 1} p LEFT JOIN u$it u USING (cidx))""".stripMargin)
    }
    (head +: iterations :+ assignCte("afin", s"c$iters")).mkString(",\n")
  }
}
