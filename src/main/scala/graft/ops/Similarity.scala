package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity-search library (SURVEY §7.4): brute-force cosine
  * as the exactness baseline, sign-LSH buckets as the sublinear path.
  * Input frame: (`idCol`: long, `vecCol`: array<float|double>).
  * Cosines are rounded to 6dp before ranking so top-k cuts are
  * deterministic (ties break by neighbor id).
  */
object Similarity {

  /** id + double vector + L2 norm, with graft functions registered.
    * `keep` carries extra columns (a group label, a source tag) through
    * the projection so callers don't re-join them on id afterwards. */
  def prepare(emb: DataFrame, idCol: String = "vec_id", vecCol: String = "embedding",
      keep: Seq[String] = Nil): DataFrame = {
    graft.functions.GraftFunctions.register(emb.sparkSession)
    emb.select(col(idCol).as("id") +:
        expr(s"transform($vecCol, x -> CAST(x AS DOUBLE))").as("v") +:
        keep.map(col): _*)
      .withColumn("nrm", expr("sqrt(array_dot(v, v))"))
  }

  /** The module's cosine over a (va, qn) x (vb, nn) pair, rounded to
    * 6dp before any ranking or threshold. */
  private def cosSim: Column =
    round(expr("array_dot(va, vb)") / (col("qn") * col("nn")), 6).as("cos_sim")

  /** The module's top-k cut over (qid, nid, cos_sim) pairs: row_number
    * per qid by (cos_sim DESC, nid ASC), keeping rn <= k. Checks k when
    * the face is built, before any job runs. */
  private def rankTopK(k: Int): DataFrame => DataFrame = {
    require(k >= 1, s"cosine top-k needs k >= 1, got k = $k")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_sim").desc, col("nid"))
    _.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Exact top-k cosine neighbors for each vector matching
    * `queryFilter`, against the full frame. |Q| x N work, not N². */
  def cosineTopK(prepared: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val q = prepared.filter(queryFilter)
      .select(col("id").as("qid"), col("v").as("va"), col("nrm").as("qn"))
    val x = prepared.select(col("id").as("nid"), col("v").as("vb"), col("nrm").as("nn"))
    q.join(x, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosSim)
      .transform(rankTopK(k))
  }

  /** [[cosineTopK]] re-planned through the mergeable
    * [[graft.ops.GroupTopK]] Aggregator instead of a window: the cosine
    * pair frame folds map-side to ≤ k (cos, nid) pairs per query BEFORE
    * the exchange, so the shuffle carries k·|Q| rows instead of the full
    * |Q|×N pair frame and a hot query (one vector near everything) can't
    * become a straggler sort. Same rows, same (cos DESC, nid ASC) tie
    * order — the reversed Ordering[Long] makes the SMALLER neighbor id
    * win ties, matching the window's `orderBy(desc, nid)`. */
  def cosineTopKAgg(prepared: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val spark = prepared.sparkSession
    import spark.implicits._
    val q = prepared.filter(queryFilter)
      .select(col("id").as("qid"), col("v").as("va"), col("nrm").as("qn"))
    val x = prepared.select(col("id").as("nid"), col("v").as("vb"), col("nrm").as("nn"))
    implicit val tieAsc: Ordering[Long] = Ordering.Long.reverse
    q.join(x, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(expr("array_dot(va, vb)") / (col("qn") * col("nn")), 6).as("cos_sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._3, r._2))
      .agg(new graft.ops.GroupTopK[Long](k).toColumn.name("top"))
      .flatMap { case (qid, top) =>
        top.iterator.zipWithIndex.map { case ((cos, nid), i) => (qid, nid, cos, i + 1) }
      }
      .toDF("qid", "nid", "cos_sim", "rn")
  }

  /** All pairs id1 < id2 with cosine >= threshold (the near-dup audit
    * path; run [[annTopK]] at scale). */
  def nearDupPairs(prepared: DataFrame, minCosine: Double): DataFrame = {
    val a = prepared.select(col("id").as("d1"), col("v").as("va"), col("nrm").as("qn"))
    val b = prepared.select(col("id").as("d2"), col("v").as("vb"), col("nrm").as("nn"))
    a.join(b, col("d1") < col("d2"))
      .select(col("d1"), col("d2"), cosSim)
      .filter(col("cos_sim") >= minCosine)
  }

  /** The scale path for near-dup pair generation: candidates must share
    * a sign-LSH bucket (per-bucket blocks instead of N² pairs), then
    * exact-cosine filtered. Feed the result to
    * [[Dedup.connectedComponents]] for embedding-level dedup groups. */
  def lshNearDupPairs(prepared: DataFrame, minCosine: Double,
      planes: Int = 6, dim: Int = 64): DataFrame = {
    val e = withLshBucket(prepared, planes, dim)
    val a = e.select(col("id").as("d1"), col("v").as("va"), col("nrm").as("qn"),
      bucketKey(-1L).as("bucket"))
    val b = e.select(col("id").as("d2"), col("v").as("vb"), col("nrm").as("nn"),
      bucketKey(-2L).as("bucket2"))
    a.join(b, col("bucket") === col("bucket2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"), cosSim)
      .filter(col("cos_sim") >= minCosine)
  }

  /** SemDeDup's in-cluster drop rule (Abbas et al. 2023,
    * arXiv:2303.09540) over (id, v, nrm, cluster) rows: a member is
    * dropped iff a representative with a LOWER id in its cluster has
    * cosine >= 0.35 to it, so the lowest id is the kept one and the
    * rule is order-free. Pass the members themselves as `reps` for the
    * full rule, or a per-cluster capped subset to bound the pair block
    * at cap x cluster size. Emits (vec_id, cluster, max_cos): each
    * dropped id with its cluster and its strongest duplicate cosine.
    * The threshold gates the UNROUNDED cosine and only the reported max
    * is rounded to 6dp, so rounding-mode differences (Spark HALF_UP vs
    * DuckDB HALF_EVEN) never decide membership at the cut. */
  def semDedup(clustered: DataFrame, reps: DataFrame): DataFrame = {
    val a = reps.select(col("id").as("d1"), col("v").as("va"),
      col("nrm").as("na"), col("cluster"))
    val b = clustered.select(col("id").as("d2"), col("v").as("vb"),
      col("nrm").as("nb"), col("cluster"))
    a.join(b, Seq("cluster"))
      .filter(col("d1") < col("d2"))
      .select(col("cluster"), col("d2"),
        (expr("array_dot(va, vb)") / (col("na") * col("nb"))).as("cs"))
      .filter(col("cs") >= 0.35)
      .groupBy(col("d2"))
      .agg(min(col("cluster")).as("cluster"), round(max(col("cs")), 6).as("max_cos"))
      .select(col("d2").as("vec_id"), col("cluster"), col("max_cos"))
  }

  /** Corpus-scaled sign-LSH plane count: enough hyperplanes that the
    * EXPECTED bucket occupancy stays ≈ `targetBlock` as the corpus
    * grows — planes = max(minPlanes, ⌈log2(n / targetBlock)⌉). A pinned
    * plane count is the scaledK trap in LSH form: fixed 2^p buckets
    * make per-bucket blocks Θ(n), and the "per-bucket blocks, never
    * N²" claim goes quietly quadratic again (r18 10× rehearsal: the
    * triplet-mining face read 27× on 6 pinned planes). n comes from a
    * one-row count — plan state, like [[KMeans.scaledK]]'s k — and the
    * oracle computes the SAME planes in SQL (greatest(minPlanes,
    * ceil(log2(count/target)))), so one oracle string is correct at
    * every SF. */
  def scaledPlanes(n: Long, targetBlock: Long = 64L, minPlanes: Int = 4): Int = {
    require(targetBlock > 0 && minPlanes >= 1,
      s"targetBlock/minPlanes must be positive, got $targetBlock/$minPlanes")
    val needed = math.ceil(
      math.log(math.max(1.0, n.toDouble / targetBlock)) / math.log(2.0)).toInt
    math.max(minPlanes, needed)
  }

  /** Deterministic sign-LSH bucket id from `planes` pseudo-random
    * integer hyperplanes (LCG weights — engine-portable). Computed by
    * the codegen [[graft.functions.SignLsh]] expression — bit-identical
    * to the HOF formulation it replaced and to the DuckDB oracle, minus
    * the planes×dim interpreted lambda evaluations per row. Pass
    * [[scaledPlanes]] of the corpus count when the corpus grows —
    * the default 6 is the small-fixture parity setting. */
  def withLshBucket(prepared: DataFrame, planes: Int = 6, dim: Int = 64): DataFrame = {
    graft.functions.GraftFunctions.register(prepared.sparkSession)
    prepared.withColumn("bucket", expr(s"sign_lsh(v, $planes, $dim)"))
  }

  /** The `bucket` column as a join key that is never null. A null
    * vector's bucket is null ([[graft.functions.SignLsh]] is nullable
    * exactly when its input is) and matches nothing under `bucket =
    * bucket2`; here it becomes `sentinel`, and the two join sides pass
    * different negative sentinels (real buckets are >= 0), so it still
    * matches nothing. Over a nullable bucket Catalyst infers
    * `isnotnull(bucket)` from the join and pushes it below the
    * projection that computes the bucket, casting and hashing each
    * corpus row twice; a non-nullable key leaves nothing to infer. A
    * `v IS NOT NULL` filter does not do this: a logical Filter does not
    * narrow its output's nullability. */
  private def bucketKey(sentinel: Long): Column = coalesce(col("bucket"), lit(sentinel))

  /** IVF (inverted-file) ANN: a seeded k-means coarse quantizer assigns
    * every vector to one of `nlist` cells; a query probes its `nprobe`
    * nearest cells and exact-cosine-reranks only their members. The
    * other classic sublinear trade next to sign-LSH: cell assignment is
    * one fit + one projection, search cost scales with nprobe/nlist of
    * the corpus. Not oracle-expressible (k-means centers are float
    * iterations); recall and rerank correctness are specced. */
  def ivfTopK(prepared: DataFrame, queryFilter: Column, k: Int,
      nlist: Int = 16, nprobe: Int = 4, fitSampleBp: Int = 2000): DataFrame = {
    val rank = rankTopK(k) // checks k before the quantizer fit
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withFeat = prepared.withColumn("feat", array_to_vector(col("v")))
    // a coarse quantizer doesn't need a converged clustering — cells
    // just need to be stable (seeded) and roughly balanced; standard IVF
    // builds cap the training sweeps AND train on a sample: fitting on
    // the full corpus would be maxIter full passes over 100 TB before
    // any search. The deterministic hash gate keeps the fit reproducible
    // across runs/layouts; assignment still covers every vector. Fall
    // back to the full frame only when the sampled stratum is too thin
    // to support nlist cells (tiny test SFs).
    // existence probe, not a count: head(n) short-circuits after n ids
    // instead of running a distributed count job per invocation
    val sampled = Sampling.uniform(withFeat, col("id"), fitSampleBp)
    val fitFrame =
      if (sampled.select(col("id")).head(2 * nlist).length >= 2 * nlist) sampled
      else withFeat
    val model = new KMeans().setK(nlist).setSeed(0L).setMaxIter(8)
      .setFeaturesCol("feat").setPredictionCol("cell").fit(fitFrame)
    val assigned = model.transform(withFeat).drop("feat").cache()
    // tiny (nlist x dim) centers table, crossable with the query batch
    val centers = {
      val spark = prepared.sparkSession
      import spark.implicits._
      model.clusterCenters.zipWithIndex.toSeq
        .map { case (c, i) => (i, c.toArray) }
        .toDF("center_cell", "center")
        .withColumn("cn2", expr("array_dot(center, center)"))
    }
    // squared distance via the codegen dot product (|q|² + |c|² - 2q·c)
    // instead of a per-row zip_with/aggregate lambda chain; probe choice
    // only ranks distances, so the algebraic form is free to differ from
    // the subtractive one
    val probes = assigned.filter(queryFilter)
      .select(col("id").as("qid"), col("v").as("va"), col("nrm").as("qn"))
      .crossJoin(broadcast(centers))
      .withColumn("dist",
        col("qn") * col("qn") + col("cn2") - lit(2.0) * expr("array_dot(va, center)"))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("dist"), col("center_cell"))))
      .filter(col("pr") <= nprobe)
      .select(col("qid"), col("va"), col("qn"), col("center_cell").as("cell"))
    val members = assigned.select(col("id").as("nid"), col("v").as("vb"),
      col("nrm").as("nn"), col("cell").as("cell2"))
    probes.join(members, col("cell") === col("cell2") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosSim)
      .transform(rank)
  }

  /** Approximate top-k: candidates share an LSH bucket, reranked by
    * exact cosine. Sublinear: per-bucket blocks instead of N² pairs. */
  def annTopK(prepared: DataFrame, queryFilter: Column, k: Int,
      planes: Int = 6, dim: Int = 64): DataFrame = {
    val e = withLshBucket(prepared, planes, dim)
    val q = e.filter(queryFilter)
      .select(col("id").as("qid"), col("v").as("va"), col("nrm").as("qn"),
        bucketKey(-1L).as("bucket"))
    val x = e.select(col("id").as("nid"), col("v").as("vb"), col("nrm").as("nn"),
      bucketKey(-2L).as("bucket2"))
    q.join(x, col("bucket") === col("bucket2") && col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosSim)
      .transform(rankTopK(k))
  }

  /** Per-group elementwise mean of the prepared vectors: (grp, centroid,
    * cnrm). Shuffle shape at scale: posexplode produces N×dim rows, but
    * the (grp, pos) hash aggregate combines map-side, so the exchange
    * carries only |groups|×dim partial sums; the second aggregate
    * reassembles dim rows per group into the centroid array. No window,
    * no driver collect — centroids stay a (tiny) distributed frame. */
  def groupCentroids(prepared: DataFrame, groupCol: Column): DataFrame =
    prepared
      .select(groupCol.as("grp"), posexplode(col("v")))
      .groupBy(col("grp"), col("pos"))
      .agg(avg(col("col")).as("c"))
      .groupBy(col("grp"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, c))), e -> e.c)")
        .as("centroid"))
      .withColumn("cnrm", expr("sqrt(array_dot(centroid, centroid))"))

  /** Cosine of every vector to its OWN group's centroid — the
    * SemDeDup-style curation signal: vectors far from their cluster
    * center are mislabeled/off-topic candidates, vectors at ~1 are
    * redundant near-center mass. Centroids are |groups|×dim and
    * broadcast, so the scoring pass is scan-side — no N² anywhere, but
    * the corpus IS read twice (centroid build + scoring); at 100 TB
    * that's the right trade (caching the corpus doesn't fit, two scans
    * do), and callers that already hold a centroid frame (a running
    * pipeline refreshing scores against yesterday's centroids) pass it
    * via `centroids` to drop back to one scan. A zero-norm vector or
    * all-zero group yields a NULL cosine (undefined direction) rather
    * than an engine-dependent inf/NaN — downstream rankings must pin
    * their null placement. Cosine rounded to 6dp (engine-portable
    * ranking, as everywhere in this module). */
  def centroidCosine(prepared: DataFrame, groupCol: Column,
      centroids: Option[DataFrame] = None): DataFrame =
    prepared.select(groupCol.as("grp"), col("id"), col("v"), col("nrm"))
      .join(broadcast(centroids.getOrElse(groupCentroids(prepared, groupCol))), Seq("grp"))
      .select(col("grp"), col("id"),
        when(col("nrm") === 0 || col("cnrm") === 0, lit(null))
          .otherwise(
            round(expr("array_dot(v, centroid)") / (col("nrm") * col("cnrm")), 6))
          .as("cos_centroid"))

  /** Symmetric per-vector int8 quantization — the memory lever of
    * corpus-scale ANN (a 64-dim float64 vector is 512 bytes; its int8
    * twin plus one scale is ~72): scale = max|v_i| / 127, codes =
    * round-half-up(v_i / scale). Emits (id, v, nrm, scale, qv) so
    * callers can compute dequantized cosines as
    * dot(qa, qb)·sa·sb / (nrm_a·nrm_b) without touching the float
    * vectors. Round-half-up via floor(x + 0.5) on both engines — no
    * banker's-rounding divergence. Zero vectors clamp the scale to
    * 1e-12 (codes all zero, cosine 0). */
  def quantize(prepared: DataFrame): DataFrame =
    prepared
      .withColumn("scale",
        greatest(expr("array_max(transform(v, x -> abs(x)))") / 127.0, lit(1e-12)))
      .withColumn("qv", expr("transform(v, x -> CAST(floor(x / scale + 0.5) AS DOUBLE))"))

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two ranked
    * candidate lists — the standard hybrid-retrieval combiner (lexical
    * BM25 + dense ANN, or exact vs quantized paths): fused score
    * rrf(d) = Σ_s 1/(kRrf + rank_s(d)), summed over the systems that
    * returned d. Rank-based, so the two systems' incomparable raw
    * scores never meet; kRrf = 60 is the paper's constant.
    *
    * Inputs are (qid, nid, rn) frames. Scale shape: the join is
    * k·|queries|-sized — candidate-list-sized, never corpus-sized (the
    * RankEval convention); one full-outer equi-join + a window over
    * ≤ 2k fused candidates per query. Determinism: each term is a
    * division of exact small integers (identical doubles cross-engine)
    * and the two-term sum has a fixed order, so fused scores and the
    * (rrf DESC, nid) cut are engine-exact — no rounding anywhere. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, kRrf: Int = 60): DataFrame = {
    require(k >= 1 && kRrf >= 0, s"need k >= 1, kRrf >= 0: $k/$kRrf")
    val aa = a.select(col("qid"), col("nid"), col("rn").as("rank_a"))
    val bb = b.select(col("qid"), col("nid"), col("rn").as("rank_b"))
    val w = Window.partitionBy(col("qid")).orderBy(col("rrf").desc, col("nid"))
    aa.join(bb, Seq("qid", "nid"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(kRrf) + col("rank_a")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("rank_b")), lit(0.0)))
      .withColumn("fused_rank", row_number().over(w))
      .filter(col("fused_rank") <= k)
  }

  /** Multi-table approximate top-k: L independent sign-LSH tables (table
    * t hashes with hyperplanes offset by t·planes), candidates = the
    * UNION of per-table bucket collisions, then one exact-cosine rerank.
    * The standard recall lever when one table's collision probability is
    * too low (near-uniform corpora): miss probability decays as
    * (1-p)^L instead of (1-p). tables=1 is exactly [[annTopK]]. Work
    * scales linearly in L at hash time; the rerank sees each candidate
    * once (pairs colliding in several tables are deduped — on
    * (qid,nid,cos): cos is a pure function of the pair, so the distinct
    * is exact and avoids re-joining vectors back after dedup). */
  def annTopKTables(prepared: DataFrame, queryFilter: Column, k: Int,
      tables: Int = 4, planes: Int = 6, dim: Int = 64): DataFrame =
    annTopKFromHashed(hashTables(prepared, tables, planes, dim), queryFilter, k)

  /** One row per (vector, table): (id, v, nrm, tbl, bucket), table t
    * hashed with hyperplanes offset by t·planes. Hash ONCE at the max
    * table count and filter `tbl < L` downstream to evaluate smaller L —
    * re-hashing per L (as a naive recall sweep would) costs
    * 1+2+…+L_max table passes instead of L_max. */
  def hashTables(prepared: DataFrame, tables: Int,
      planes: Int = 6, dim: Int = 64): DataFrame = {
    require(tables >= 1, s"LSH needs tables >= 1, got tables = $tables")
    graft.functions.GraftFunctions.register(prepared.sparkSession)
    val tb = explode(array((0 until tables).map(t =>
      struct(lit(t).as("tbl"),
        expr(s"sign_lsh(v, $planes, $dim, ${t * planes})").as("bucket"))): _*))
    prepared.withColumn("tb", tb)
      .select(col("id"), col("v"), col("nrm"),
        col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** Top-k from an already-hashed (id, v, nrm, tbl, bucket) frame (see
    * [[hashTables]]): per-table bucket collisions, union-deduped, one
    * exact-cosine rerank. */
  def annTopKFromHashed(e: DataFrame, queryFilter: Column, k: Int): DataFrame = {
    val q = e.filter(queryFilter)
      .select(col("id").as("qid"), col("v").as("va"), col("nrm").as("qn"),
        col("tbl"), bucketKey(-1L).as("bucket"))
    val x = e.select(col("id").as("nid"), col("v").as("vb"), col("nrm").as("nn"),
      col("tbl").as("tbl2"), bucketKey(-2L).as("bucket2"))
    q.join(x, col("tbl") === col("tbl2") && col("bucket") === col("bucket2") &&
        col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"), cosSim)
      .distinct()
      .transform(rankTopK(k))
  }

  /** Ratio-margin scoring for cross-side mining (the bitext-mining
    * shape of Artetxe & Schwenk, "Margin-based Parallel Corpus Mining",
    * 2019): absolute cosine is a bad match score because some vectors
    * sit in dense hubs where EVERYTHING scores high; the margin
    * normalizes each pair by how close its endpoints are to their own
    * neighborhoods — margin(x, y) = cos(x, y) / ((avgNNk(x) +
    * avgNNk(y)) / 2) — and hub matches stop outranking genuinely
    * aligned ones. Emits each query-side row's BEST corpus-side match
    * by margin.
    *
    * Both averages derive from ONE cross-side pair frame (no same-side
    * pairs): x's kNN among the corpus side and y's kNN among the query
    * side are the same frame windowed on the two keys (consumed twice —
    * the frame is |Q|·|C| for this brute-force face; the production
    * candidate generator is [[annTopKFromHashed]]/IVF, which bounds it
    * to bucket-sized blocks, and the margin arithmetic here applies
    * unchanged on top of any candidate frame). Determinism: the 6dp
    * cosine is scaled to an exact integer (round lands ≥ 1e-3 ulps from
    * any .5 after the 6dp pin, so HALF_UP vs HALF_EVEN cannot diverge),
    * every sum/count/product stays in longs, and the margin is ONE
    * division of exact integers — bit-identical cross-engine,
    * emitted unrounded. */
  def marginTopMatch(prepared: DataFrame, querySide: Column, k: Int): DataFrame = {
    val q = prepared.filter(querySide)
      .select(col("id").as("qid"), col("v").as("va"), col("nrm").as("qn"))
    val x = prepared.filter(!querySide)
      .select(col("id").as("nid"), col("v").as("vb"), col("nrm").as("nn"))
    val pairs = q.crossJoin(x)
      .select(col("qid"), col("nid"), cosSim)
      .withColumn("cos_l", round(col("cos_sim") * 1e6).cast("long"))
    val wn = Window.partitionBy(col("nid")).orderBy(col("cos_sim").desc, col("qid"))
    val keptQ = pairs.transform(rankTopK(k))
    val denomQ = keptQ.groupBy(col("qid").as("dq_id"))
      .agg(sum(col("cos_l")).as("den_q"), count(lit(1)).as("cnt_q"))
    val denomC = pairs.withColumn("rn2", row_number().over(wn))
      .filter(col("rn2") <= k)
      .groupBy(col("nid").as("dc_id"))
      .agg(sum(col("cos_l")).as("den_c"), count(lit(1)).as("cnt_c"))
    // a zero combined denominator (possible when neighborhood cosines
    // cancel) must yield NULL on both engines, never Spark-NULL-vs-
    // DuckDB-inf; NULL margins rank LAST explicitly — the two engines'
    // default NULL placement under DESC differs
    val wm = Window.partitionBy(col("qid"))
      .orderBy(col("margin").desc_nulls_last, col("nid"))
    keptQ
      .join(denomQ, col("qid") === col("dq_id"))
      .join(denomC, col("nid") === col("dc_id"))
      .select(col("qid"), col("nid"), col("cos_sim"),
        when(col("den_q") * col("cnt_c") + col("den_c") * col("cnt_q") =!= 0,
          (lit(2L) * col("cos_l") * col("cnt_q") * col("cnt_c")).cast("double") /
            (col("den_q") * col("cnt_c") + col("den_c") * col("cnt_q"))
              .cast("double")).as("margin"))
      .withColumn("mrn", row_number().over(wm))
      .filter(col("mrn") === 1)
      .drop("mrn")
  }
}
