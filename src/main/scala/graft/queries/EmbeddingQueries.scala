package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Portable, Sampling, Similarity}

/** Similarity search over the `embeddings` table (SURVEY.md §7.4),
  * delegating to [[graft.ops.Similarity]]: brute-force cosine top-k as
  * the exactness baseline, all-pairs cosine near-dup, and a
  * random-hyperplane LSH-bucketed ANN as the scale path. Plus the
  * array-function and null-semantics coverage queries.
  *
  * Cosines are computed in double with a left-to-right fold on both
  * engines (the codegen array_dot matches DuckDB's list_dot_product)
  * and rounded to 6 decimals before ranking, so top-k cuts are
  * deterministic across engines (ties broken by neighbor id).
  */
object EmbeddingQueries {
  import Tables.{apply => t}

  /** Both q263 triplet picks — (cos DESC, nid ASC) argmax over the
    * positive (cos ≥ τ) and negative (cos < τ) branches — in ONE
    * hash-aggregable pass: `max(CASE WHEN … THEN struct(cos, −nid))`
    * plans SortAggregate (struct aggregation buffers aren't
    * hash-supported), which at
    * scale sorts the full per-bucket candidate frame; this typed
    * Aggregator keeps one (cos, nid) pair per branch and plans
    * ObjectHashAggregate with map-side partial combine. Sentinel is
    * cos = −2 (true cosines live in [−1, 1]), mapped back to the
    * CASE-form's NULL by the caller's filter. */
  private final class TripletPick extends org.apache.spark.sql.expressions.Aggregator[
      (Double, Long, Boolean), ((Double, Long), (Double, Long)),
      ((Double, Long), (Double, Long))] {
    private def better(a: (Double, Long), b: (Double, Long)): (Double, Long) = {
      // NaN orders GREATEST and ties to itself (Spark's double ordering,
      // which the max(struct) form this Aggregator replaced used) — with
      // bare Java comparisons NaN never wins, so a zero-norm NaN cosine
      // would pick merge-order-dependently (r21 ADVICE). Plain IEEE
      // comparisons stay for non-NaN values (keeps -0.0 == 0.0, unlike
      // java.lang.Double.compare).
      val aN = a._1.isNaN
      val bN = b._1.isNaN
      if (aN || bN) {
        if (aN && bN) { if (a._2 < b._2) a else b }
        else if (aN) a
        else b
      } else if (a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)) a else b
    }
    override def zero: ((Double, Long), (Double, Long)) =
      ((-2.0, Long.MaxValue), (-2.0, Long.MaxValue))
    override def reduce(b: ((Double, Long), (Double, Long)),
        x: (Double, Long, Boolean)): ((Double, Long), (Double, Long)) =
      if (x._3) (better(b._1, (x._1, x._2)), b._2)
      else (b._1, better(b._2, (x._1, x._2)))
    override def merge(a: ((Double, Long), (Double, Long)),
        b: ((Double, Long), (Double, Long))): ((Double, Long), (Double, Long)) =
      (better(a._1, b._1), better(a._2, b._2))
    override def finish(b: ((Double, Long), (Double, Long)))
        : ((Double, Long), (Double, Long)) = b
    override def bufferEncoder
        : org.apache.spark.sql.Encoder[((Double, Long), (Double, Long))] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    override def outputEncoder
        : org.apache.spark.sql.Encoder[((Double, Long), (Double, Long))] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  private def vecs(s: SparkSession, d: String): DataFrame =
    Similarity.prepare(t(s, d, "embeddings"))

  /** Corpus-scaled sign-LSH planes for the embeddings table (one count
    * job — plan state, the scaledK convention; rationale on
    * [[Similarity.scaledPlanes]]). sf0.01 → 4, sf0.1 → 5, 10× → 9. */
  private def nPlanes(s: SparkSession, d: String): Int =
    Similarity.scaledPlanes(t(s, d, "embeddings").count())

  /** The SQL twin of [[nPlanes]] — a 1-row CTE over `e` the bucketed
    * oracles splice in, with `range(0, (SELECT pl FROM pp))` as the
    * plane loop bound. */
  private val ppCte: String =
    "pp AS (SELECT greatest(4, CAST(ceil(log2(count(*) / 64.0)) AS INTEGER)) AS pl FROM e)"
  private val pRange: String = "range(0, (SELECT pl FROM pp))"

  val all: Seq[GraftQuery] = Seq(

    // ---- brute-force cosine top-5 for a fixed query subset (|Q| x N
    // work, not N²; at cluster scale Q is the query batch): the exact
    // face, a broadcast nested-loop join ranked by a per-query window.
    GraftQuery(
      "q40_embed_topk",
      (s, d) => Similarity.cosineTopK(vecs(s, d), col("id") < 20, k = 5)
        .select(col("qid"), col("nid"), col("cos_sim"), col("rn"))
        .orderBy(col("qid"), col("rn")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              p AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
                           round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cos_sim
                    FROM n q JOIN n x ON q.vec_id < 20 AND x.vec_id <> q.vec_id)
              SELECT qid, nid, cos_sim, rn FROM
                (SELECT qid, nid, cos_sim,
                        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rn
                 FROM p)
              WHERE rn <= 5 ORDER BY qid, rn""")),

    // ---- embedding-cosine near-dup exactness audit over a
    // deterministic 20% hash-gated stratum: all pairs i<j above the
    // threshold WITHIN the stratum. Exact pairwise cosine is inherently
    // N² — bounding the audit to a fixed stratum is what makes "run the
    // exactness audit continuously" a scale-shaped statement (4% of the
    // pair volume here; at 100 TB pick the rate to budget). offsetBp
    // rotates WHICH stratum is audited: offsets spaced rateBp apart
    // partition the id space (pinned in SketchSamplingSpec), so the
    // recurring audit walks the corpus round-robin — this registration
    // runs the second stratum of the 5-cycle. The full-corpus audit
    // stays available as Similarity.nearDupPairs on an unsampled frame
    // (dev use); the production pair generators are q42 / q63's
    // bucketed paths.
    GraftQuery(
      "q41_embed_neardup",
      (s, d) => Similarity.nearDupPairs(
          Sampling.uniform(vecs(s, d), col("id"), rateBp = 2000, offsetBp = 2000),
          minCosine = 0.35)
        .orderBy(col("d1"), col("d2")),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                          WHERE (${Portable.p60Sql("CAST(vec_id AS VARCHAR)")} + 2000) % 10000 < 2000),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)
              SELECT d1, d2, cos_sim FROM
                (SELECT a.vec_id AS d1, b.vec_id AS d2,
                        round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_sim
                 FROM n a JOIN n b ON a.vec_id < b.vec_id)
              WHERE cos_sim >= 0.35 ORDER BY d1, d2""")),

    // ---- Array/collection-function gauntlet over the embedding lists.
    GraftQuery(
      "q43_array_funcs",
      (s, d) => {
        val e = t(s, d, "embeddings")
          .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
        e.select(
          col("vec_id"),
          size(col("v")).as("dim"),
          round(array_max(col("v")), 6).as("vmax"),
          round(array_min(col("v")), 6).as("vmin"),
          round(element_at(col("v"), 1), 6).as("first_val"),
          round(expr("aggregate(slice(v, 1, 8), 0D, (a, x) -> a + x)"), 6).as("head8_sum"),
          round(element_at(array_sort(col("v")), 32), 6).as("sorted_32nd"))
          .orderBy(col("vec_id"))
      },
      Some("""SELECT vec_id,
              CAST(len(v) AS INTEGER) AS dim,
              round(list_max(v), 6) AS vmax,
              round(list_min(v), 6) AS vmin,
              round(v[1], 6) AS first_val,
              round(list_sum(v[1:8]), 6) AS head8_sum,
              round(list_sort(v)[32], 6) AS sorted_32nd
              FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
              ORDER BY vec_id""")),

    // ---- Three-valued-logic / null-handling semantics (nullif-derived
    // nulls; count(col) vs count(*), null-skipping aggregates, coalesce
    // — the semantics the reference leans on at COMP5349_2.py:146,196).
    GraftQuery(
      "q44_null_semantics",
      (s, d) => {
        t(s, d, "lineitem")
          .select(col("l_returnflag"),
            expr("nullif(l_discount, 0.0)").as("disc_n"),
            col("l_quantity"))
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_rows"),
            count(col("disc_n")).as("n_discounted"),
            round(coalesce(avg(col("disc_n")), lit(0.0)), 6).as("avg_disc_nonzero"),
            round(sum(coalesce(col("disc_n"), lit(0.0)) * col("l_quantity")), 4).as("weighted_disc"))
          .orderBy(col("l_returnflag"))
      },
      Some("""SELECT l_returnflag,
              count(*) AS n_rows,
              count(nullif(l_discount, 0.0)) AS n_discounted,
              round(coalesce(avg(nullif(l_discount, 0.0)), 0.0), 6) AS avg_disc_nonzero,
              round(sum(coalesce(nullif(l_discount, 0.0), 0.0) * l_quantity), 4) AS weighted_disc
              FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // ---- IVF ANN: seeded k-means coarse quantizer + nprobe cell search
    // with exact cosine rerank. Float cluster centers aren't
    // oracle-expressible; rerank exactness + recall are specced
    // (OpsSpec). Rows-only at the driver.
    GraftQuery(
      "q45_ann_ivf",
      (s, d) => Similarity.ivfTopK(vecs(s, d), col("id") < 50, k = 3,
          nlist = 16, nprobe = 4)
        .select(col("qid"), col("nid"), col("cos_sim"), col("rn"))
        .orderBy(col("qid"), col("rn")),
      None, companion = Some("q78_ivf_valid")),

    // ---- LSH-bucketed ANN: corpus-scaled deterministic sign
    // hyperplanes (Similarity.scaledPlanes — ~64-vector expected
    // buckets at any SF); candidates share a bucket; exact cosine
    // rerank top-3 through the same window ranker as q40.
    GraftQuery(
      "q42_ann_lsh",
      (s, d) => Similarity.annTopK(vecs(s, d), col("id") < 50, k = 3,
          planes = nPlanes(s, d))
        .select(col("qid"), col("nid"), col("cos_sim"), col("rn"))
        .orderBy(col("qid"), col("rn")),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              $ppCte,
              n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)),
              bk AS (SELECT vec_id, v, nrm,
                       CAST(list_sum([CASE WHEN list_sum([v[dm] * CAST((CAST(1103515245 AS BIGINT) * (p * 64 + dm) + 12345) % 2001 - 1000 AS DOUBLE)
                                                          FOR dm IN range(1, 65)]) > 0
                                           THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END
                                      FOR p IN $pRange]) AS BIGINT) AS bucket
                     FROM n),
              p AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
                           round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cos_sim
                    FROM bk q JOIN bk x ON q.bucket = x.bucket AND q.vec_id < 50 AND x.vec_id <> q.vec_id)
              SELECT qid, nid, cos_sim, rn FROM
                (SELECT qid, nid, cos_sim,
                        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rn
                 FROM p)
              WHERE rn <= 3 ORDER BY qid, rn""")),

    // ---- embedding-level dedup groups: LSH-candidate near-dup pairs
    // (the 100 TB pair generator — per-bucket blocks, never N²)
    // collapsed into groups by distributed min-label propagation. The
    // oracle rebuilds the identical bucket/pair set and closes it with a
    // recursive CTE. The composition point of the similarity + dedup
    // families: q41 audits the pair set, q46 the group collapse, this
    // one the end-to-end scale formulation.
    GraftQuery(
      "q63_embed_dedup_groups",
      (s, d) => graft.ops.Dedup.connectedComponents(
          Similarity.lshNearDupPairs(vecs(s, d), minCosine = 0.35,
              planes = nPlanes(s, d))
            .select(col("d1"), col("d2")))
        .orderBy(col("id")),
      Some(s"""WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              $ppCte,
              n AS (SELECT vec_id, v, nrm FROM (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)),
              bk AS (SELECT vec_id, v, nrm,
                       CAST(list_sum([CASE WHEN list_sum([v[dm] * CAST((CAST(1103515245 AS BIGINT) * (p * 64 + dm) + 12345) % 2001 - 1000 AS DOUBLE)
                                                          FOR dm IN range(1, 65)]) > 0
                                           THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END
                                      FOR p IN $pRange]) AS BIGINT) AS bucket
                     FROM n),
              pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
                        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35),
              edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                        UNION ALL SELECT d2, d1 FROM pairs),
              reach(node, r) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node)
              SELECT node AS id, min(r) AS component FROM reach
              GROUP BY node ORDER BY id""")),

    // ---- int8-quantized cosine top-k: the ANN memory lever (512-byte
    // float64 vectors -> ~72-byte int8 codes + scale) with its accuracy
    // cost made visible — every row carries the dequantized cosine, the
    // exact cosine and their gap. Codes are computed as doubles in-plan
    // (the storage win is at rest, the codegen dot wants doubles);
    // ranking is by the QUANTIZED cosine, which is the honest semantics
    // of searching over codes.
    GraftQuery(
      "q84_quantized_topk",
      (s, d) => {
        val qq = Similarity.quantize(vecs(s, d))
        val a = qq.select(col("id").as("qid"), col("qv").as("qa"),
          col("scale").as("sa"), col("v").as("va"), col("nrm").as("na"))
        val b = qq.select(col("id").as("nid"), col("qv").as("qb"),
          col("scale").as("sb"), col("v").as("vb"), col("nrm").as("nb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos_q").desc, col("nid"))
        a.filter(col("qid") < 20)
          .join(b, col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(expr("array_dot(qa, qb)") * col("sa") * col("sb") /
              (col("na") * col("nb")), 6).as("cos_q"),
            round(expr("array_dot(va, vb)") / (col("na") * col("nb")), 6).as("cos_exact"))
          .withColumn("err", round(abs(col("cos_q") - col("cos_exact")), 6))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .orderBy(col("qid"), col("rn"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              q AS (SELECT vec_id, v, nrm,
                           greatest(list_max([abs(x) FOR x IN v]) / 127, 1e-12) AS scale
                    FROM n),
              qq AS (SELECT vec_id, v, nrm, scale,
                            [CAST(floor(x / scale + 0.5) AS DOUBLE) FOR x IN v] AS qv
                     FROM q),
              p AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                           round(list_dot_product(a.qv, b.qv) * a.scale * b.scale
                                 / (a.nrm * b.nrm), 6) AS cos_q,
                           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos_exact
                    FROM qq a JOIN qq b ON a.vec_id < 20 AND b.vec_id <> a.vec_id)
              SELECT qid, nid, cos_q, cos_exact, round(abs(cos_q - cos_exact), 6) AS err, rn
              FROM (SELECT qid, nid, cos_q, cos_exact,
                           row_number() OVER (PARTITION BY qid ORDER BY cos_q DESC, nid) AS rn
                    FROM p)
              WHERE rn <= 5 ORDER BY qid, rn""")),

    // ---- ANN quality evaluation: recall@3 of the sign-LSH path against
    // exact ground truth, per table count L ∈ {1,2,4} — the measurement
    // an ANN rollout runs continuously, extended into the multi-table
    // tuning curve. Both paths are deterministic, so recall itself is
    // oracle-checkable. On this synthetic corpus single-table recall is
    // low (~0.1 at sf0.1: embeddings are near-uniform, max cosine ≈ 0.5,
    // the regime where one sign-LSH table is weakest); the per-L rows
    // pin the recall lift the candidate-union buys — the knob a 100 TB
    // deployment turns (L hash passes, miss rate (1-p)^L).
    GraftQuery(
      "q73_ann_recall",
      (s, d) => {
        val v = vecs(s, d)
        // hash once at L_max keeping the table id, filter tbl < L per
        // curve point (vs re-hashing 1+2+4 = 7 table passes); exact
        // ground truth and the hashed frame are each computed once and
        // cached across the three L evaluations. Scale note: the cached
        // hashed frame is L_max x the corpus — cache() is
        // MEMORY_AND_DISK so it spills rather than OOMs, but a 100 TB
        // recall audit would (a) run over a hash-gated query stratum
        // (as here: id < 50) and (b) materialize the hashed corpus to
        // parquet once if the sweep is re-run across days.
        // Assumption (matches every driver fixture: sf0.001-0.1 all hold
        // vec_ids 0..N-1 with N >= 50): the id < 50 query stratum is
        // nonempty. On an empty stratum this global agg would emit one
        // (n_exact=0, recall=null) row per L where the oracle's GROUP BY
        // emits zero — a fixture-shape mismatch, not a correctness bug.
        val exact = Similarity.cosineTopK(v, col("id") < 50, k = 3)
          .select(col("qid"), col("nid")).cache()
        val hashed = Similarity.hashTables(v, tables = 4).cache()
        Seq(1, 2, 4).map { l =>
          val ann = Similarity
            .annTopKFromHashed(hashed.filter(col("tbl") < l), col("id") < 50, k = 3)
            .select(col("qid").as("aqid"), col("nid").as("anid"))
          exact
            .join(ann, col("qid") === col("aqid") && col("nid") === col("anid"), "left")
            .agg(count(lit(1)).as("n_exact"),
              count(col("anid")).as("n_hit"),
              round(count(col("anid")).cast("double") / count(lit(1)), 6).as("recall"))
            .select(lit(l).as("tables"), col("n_exact"), col("n_hit"), col("recall"))
        }.reduce(_.unionByName(_)).orderBy(col("tables"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              ex AS (SELECT qid, nid FROM
                       (SELECT q.vec_id AS qid, x.vec_id AS nid,
                               row_number() OVER (PARTITION BY q.vec_id
                                 ORDER BY round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) DESC, x.vec_id) AS rn
                        FROM n q JOIN n x ON q.vec_id < 50 AND x.vec_id <> q.vec_id)
                     WHERE rn <= 3),
              bk AS (SELECT n.vec_id, n.v, n.nrm, r.t,
                       CAST(list_sum([CASE WHEN list_sum([v[dm] * CAST((CAST(1103515245 AS BIGINT) * ((r.t * 6 + p) * 64 + dm) + 12345) % 2001 - 1000 AS DOUBLE)
                                                          FOR dm IN range(1, 65)]) > 0
                                           THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END
                                      FOR p IN range(0, 6)]) AS BIGINT) AS bucket
                     FROM n, range(0, 4) r(t)),
              cand AS (SELECT DISTINCT ls.L, q.vec_id AS qid, x.vec_id AS nid,
                              round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cos_sim
                       FROM (VALUES (1), (2), (4)) ls(L)
                       JOIN bk q ON q.t < ls.L AND q.vec_id < 50
                       JOIN bk x ON x.t = q.t AND x.bucket = q.bucket AND x.vec_id <> q.vec_id),
              an AS (SELECT L, qid, nid FROM
                       (SELECT L, qid, nid,
                               row_number() OVER (PARTITION BY L, qid ORDER BY cos_sim DESC, nid) AS rn
                        FROM cand)
                     WHERE rn <= 3),
              exl AS (SELECT ls.L, ex.qid, ex.nid
                      FROM (VALUES (1), (2), (4)) ls(L) CROSS JOIN ex)
              SELECT exl.L AS tables, CAST(count(*) AS BIGINT) AS n_exact,
                     CAST(count(an.nid) AS BIGINT) AS n_hit,
                     round(count(an.nid) * 1.0 / count(*), 6) AS recall
              FROM exl LEFT JOIN an ON an.L = exl.L AND an.qid = exl.qid AND an.nid = exl.nid
              GROUP BY exl.L ORDER BY tables""")),

    // ---- per-group centroid distance (the SemDeDup-style curation
    // signal): every vector scored by cosine to its OWN label's
    // centroid; the bottom-3 per label flagged as outliers
    // (mislabeled/off-topic candidates). Centroid building is two
    // partial-aggregating groupBys (the exchange carries |labels|×dim
    // partial sums, not vectors); scoring is scan-side against the
    // broadcast |labels|×dim centroid table — no N² anywhere, so the
    // pass costs one corpus scan at any scale. Rank-based flagging
    // (bottom-k, ties by vec_id) keeps the query data-independent —
    // no magic cosine threshold to re-tune per corpus.
    GraftQuery(
      "q96_embed_outliers",
      (s, d) => {
        val prep = Similarity.prepare(t(s, d, "embeddings"), keep = Seq("label"))
        val scored = Similarity.centroidCosine(prep, col("label"))
        // nulls-first pinned explicitly (degenerate zero-norm vectors
        // yield NULL cosines; both engines must rank them identically)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(col("cos_centroid").asc_nulls_first, col("id"))
        scored.withColumn("r", row_number().over(w))
          .select(col("grp").as("label"), col("id").as("vec_id"),
            col("cos_centroid"), (col("r") <= 3).as("is_outlier"))
          .orderBy(col("label"), col("vec_id"))
      },
      Some("""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              pos AS (SELECT label, i, avg(x) AS c FROM
                        (SELECT label, unnest(range(1, len(v) + 1)) AS i,
                                unnest(v) AS x FROM e)
                      GROUP BY 1, 2),
              cn AS (SELECT label, centroid,
                            sqrt(list_dot_product(centroid, centroid)) AS cnrm
                     FROM (SELECT label, list(c ORDER BY i) AS centroid
                           FROM pos GROUP BY 1)),
              sc AS (SELECT n.label, n.vec_id,
                            round(list_dot_product(n.v, cn.centroid)
                                  / NULLIF(n.nrm * cn.cnrm, 0), 6) AS cos_centroid
                     FROM n JOIN cn ON n.label = cn.label)
              SELECT label, vec_id, cos_centroid,
                     (row_number() OVER (PARTITION BY label
                        ORDER BY cos_centroid ASC NULLS FIRST, vec_id) <= 3) AS is_outlier
              FROM sc ORDER BY label, vec_id""")),

    // ---- the embedding-side curation pipeline, composed end to end
    // (the q104 pattern for vectors): LSH near-dup pairs → connected
    // components → canonical retention (min vec_id per component) →
    // per-label centroid cosine + bottom-3 outlier flag over the
    // SURVIVORS. Each stage is the op its standalone query verifies
    // (q63, q96); this registration pins that they compose — dedup
    // changes the centroids, so the outlier set differs from q96's, and
    // the oracle recomputes the whole chain independently. Scale shape
    // inherits the pieces: bucketed pairs (never N²), O(log d) pointer-
    // jumping CC, broadcast centroids, scan-side scoring.
    GraftQuery(
      "q113_embedding_pipeline",
      (s, d) => {
        val prep = Similarity.prepare(t(s, d, "embeddings"), keep = Seq("label"))
        val dropped = graft.ops.Dedup.connectedComponents(
            Similarity.lshNearDupPairs(vecs(s, d), minCosine = 0.35,
                planes = nPlanes(s, d))
              .select(col("d1"), col("d2")))
          .filter(col("id") =!= col("component"))
          .select(col("id").as("drop_id"))
        val surv = prep.join(dropped, prep("id") === dropped("drop_id"), "left_anti")
        val scored = Similarity.centroidCosine(surv, col("label"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("grp")).orderBy(col("cos_centroid").asc_nulls_first, col("id"))
        scored.withColumn("r", row_number().over(w))
          .select(col("grp").as("label"), col("id").as("vec_id"),
            col("cos_centroid"), (col("r") <= 3).as("is_outlier"))
          .orderBy(col("label"), col("vec_id"))
      },
      Some(s"""WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              $ppCte,
              n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              bk AS (SELECT vec_id, v, nrm,
                       CAST(list_sum([CASE WHEN list_sum([v[dm] * CAST((CAST(1103515245 AS BIGINT) * (p * 64 + dm) + 12345) % 2001 - 1000 AS DOUBLE)
                                                          FOR dm IN range(1, 65)]) > 0
                                           THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END
                                      FOR p IN $pRange]) AS BIGINT) AS bucket
                     FROM n),
              pairs AS (SELECT a.vec_id AS d1, b.vec_id AS d2
                        FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                        WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) >= 0.35),
              edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                        UNION ALL SELECT d2, d1 FROM pairs),
              reach(node, r) AS (
                SELECT DISTINCT a, a FROM edges
                UNION
                SELECT e2.b, reach.r FROM reach JOIN edges e2 ON e2.a = reach.node),
              comp AS (SELECT node AS id, min(r) AS component FROM reach GROUP BY node),
              drp AS (SELECT id FROM comp WHERE id <> component),
              surv AS (SELECT vec_id, label, v, nrm FROM n
                       WHERE vec_id NOT IN (SELECT id FROM drp)),
              pos AS (SELECT label, i, avg(x) AS c FROM
                        (SELECT label, unnest(range(1, len(v) + 1)) AS i,
                                unnest(v) AS x FROM surv)
                      GROUP BY 1, 2),
              cn AS (SELECT label, centroid,
                            sqrt(list_dot_product(centroid, centroid)) AS cnrm
                     FROM (SELECT label, list(c ORDER BY i) AS centroid
                           FROM pos GROUP BY 1)),
              sc AS (SELECT s2.label, s2.vec_id,
                            round(list_dot_product(s2.v, cn.centroid)
                                  / NULLIF(s2.nrm * cn.cnrm, 0), 6) AS cos_centroid
                     FROM surv s2 JOIN cn ON s2.label = cn.label)
              SELECT label, vec_id, cos_centroid,
                     (row_number() OVER (PARTITION BY label
                        ORDER BY cos_centroid ASC NULLS FIRST, vec_id) <= 3) AS is_outlier
              FROM sc ORDER BY label, vec_id""")),

    // ---- q40 re-answered through the mergeable GroupTopK Aggregator
    // (Similarity.cosineTopKAgg — scale rationale there): the cosine
    // pair frame folds to k rows per query map-side, so the top-k
    // exchange is k·|Q| rows — the q105-vs-q04 cross-check dropped onto
    // the similarity path, with a STRING-free but reversed-tie
    // instantiation proving the generic Aggregator. Oracle = q40's SQL
    // verbatim; q40's window face and this one must hash identically
    // (ScaleSpec pins the aggregator plan).
    GraftQuery(
      "q122_topk_agg_cosine",
      (s, d) => Similarity.cosineTopKAgg(vecs(s, d), col("id") < 20, k = 5)
        .orderBy(col("qid"), col("rn")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              p AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
                           round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cos_sim
                    FROM n q JOIN n x ON q.vec_id < 20 AND x.vec_id <> q.vec_id)
              SELECT qid, nid, cos_sim, rn FROM
                (SELECT qid, nid, cos_sim,
                        row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rn
                 FROM p)
              WHERE rn <= 5 ORDER BY qid, rn""")),

    // ---- k-means (Lloyd) over the embedding corpus — the clustering
    // stage semantic dedup and topic bucketing hang off. k = 10 (the
    // corpus's latent label count), 3 iterations, lowest-id seeding;
    // every step is pinned by the determinism conventions documented on
    // graft.ops.KMeans, and the oracle re-runs the identical unrolled
    // Lloyd chain in SQL — any drift in seeding, the distance argmin,
    // the tie rule, the 6dp centroid rounding, or the empty-cluster
    // rule is a hash mismatch on the full 500-row assignment.
    GraftQuery(
      "q160_kmeans_lloyd",
      (s, d) => graft.ops.KMeans.lloyd(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 10, iters = 3)
        ._1
        .select(col("id").as("vec_id"), col("cluster"))
        .orderBy(col("vec_id")),
      Some(graft.ops.KMeans.oracleCtes(k = 10, iters = 3) +
        "\n SELECT vec_id, cluster FROM afin ORDER BY vec_id")),

    // ---- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    // near-dup pruning that only compares WITHIN k-means clusters — the
    // clustering turns the N² all-pairs cosine into k independent
    // (N/k)² blocks, which is the whole trick that makes embedding
    // dedup feasible at corpus scale (the q42/q63 LSH buckets, with
    // learned buckets). Every member is a representative here; the
    // drop rule and its output are Similarity.semDedup's.
    GraftQuery(
      "q161_semantic_dedup",
      (s, d) => {
        val (asg, _) = graft.ops.KMeans.lloyd(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 10, iters = 3)
        val n = vecs(s, d).join(asg, "id")
        Similarity.semDedup(n, reps = n).orderBy(col("vec_id"))
      },
      Some(graft.ops.KMeans.oracleCtes(k = 10, iters = 3) + s""",
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, cluster
               FROM e JOIN afin USING (vec_id)),
         p AS (SELECT b.cluster, b.vec_id AS d2,
                      list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
               FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)
         SELECT d2 AS vec_id, min(cluster) AS cluster, round(max(cs), 6) AS max_cos
         FROM p WHERE cs >= 0.35 GROUP BY d2 ORDER BY vec_id""")),

    // ---- q161's 100 TB face: SemDeDup with a PER-CLUSTER PAIR CAP
    // (the assignment is lloyd's closure scan — centroids as task
    // DATA, so k scales to SemDeDup's corpus-sized cluster counts), the
    // Dedup df-cap convention applied to the quadratic block: each
    // vector is compared only against its cluster's `cap` lowest-id
    // members (the representatives), so pair volume is
    // Σ_c [cap·(s_c−cap) + cap·(cap−1)/2] ≤ N·cap — linear in N at
    // fixed cap, vs q161's Σ s_c² which grows Θ(N²/k) when k is pinned.
    // The recall exposure (which comparisons the cap skipped) is not
    // hidden: q184 is the paired telemetry, same convention as q101 for
    // the shingle cap.
    // Semantics stay order-free and deterministic: drop v iff some
    // representative with LOWER id in v's cluster has raw cosine >=
    // 0.35; representatives are rank<=cap by id within cluster.
    GraftQuery(
      "q183_semantic_dedup_capped",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cap = 25
        val (asg, _) = graft.ops.KMeans.lloyd(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 10, iters = 3)
        val n = vecs(s, d).join(asg, "id")
        // rank-by-id window is PARTITIONED by cluster (state bounded by
        // the largest cluster, the same bound the pair block already has)
        val reps = n.withColumn("rn",
            row_number().over(Window.partitionBy(col("cluster")).orderBy(col("id"))))
          .filter(col("rn") <= cap)
        Similarity.semDedup(n, reps).orderBy(col("vec_id"))
      },
      Some(graft.ops.KMeans.oracleCtes(k = 10, iters = 3) + s""",
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, cluster
               FROM e JOIN afin USING (vec_id)),
         r AS (SELECT vec_id, v, nrm, cluster,
                      row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
               FROM n),
         p AS (SELECT b.cluster, b.vec_id AS d2,
                      list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
               FROM r a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE a.rn <= 25)
         SELECT d2 AS vec_id, min(cluster) AS cluster, round(max(cs), 6) AS max_cos
         FROM p WHERE cs >= 0.35 GROUP BY d2 ORDER BY vec_id""")),

    // ---- what q183's pair cap costs (the q101 telemetry convention):
    // one row of full vs capped pair volume from the cluster-size
    // histogram alone — |clusters| rows of input, pure integer
    // arithmetic, no pair materialization. n_pairs_dropped is the
    // recall exposure of cap=25, surfaced as a monitored number
    // instead of a silent filter; at 100 TB this runs against the
    // same assignment frame the dedup already produced, so the
    // telemetry is one tiny aggregate, not a second pipeline.
    GraftQuery(
      "q184_semdedup_cap_telemetry",
      (s, d) => {
        val cap = 25
        val (asg, _) = graft.ops.KMeans.lloyd(
          t(s, d, "embeddings"), "vec_id", "embedding", k = 10, iters = 3)
        val sizes = asg.groupBy(col("cluster"))
          .agg(count(lit(1)).as("s"))
        val full = expr("s * (s - 1) DIV 2")
        val capped = when(col("s") <= cap, full)
          .otherwise(lit(cap.toLong * (cap - 1) / 2) + lit(cap.toLong) * (col("s") - cap))
        sizes.agg(
          sum(col("s")).as("n_vectors"),
          count(lit(1)).as("n_clusters"),
          sum(full).as("n_pairs_full"),
          sum(capped).as("n_pairs_capped"),
          max(col("s")).as("max_cluster_size"))
          .withColumn("n_pairs_dropped", col("n_pairs_full") - col("n_pairs_capped"))
      },
      Some(graft.ops.KMeans.oracleCtes(k = 10, iters = 3) + s""",
         cs AS (SELECT cluster, CAST(count(*) AS BIGINT) AS s FROM afin GROUP BY 1)
         SELECT CAST(sum(s) AS BIGINT) AS n_vectors,
                CAST(count(*) AS BIGINT) AS n_clusters,
                CAST(sum(s * (s - 1) // 2) AS BIGINT) AS n_pairs_full,
                CAST(sum(CASE WHEN s <= 25 THEN s * (s - 1) // 2
                              ELSE 300 + 25 * (s - 25) END) AS BIGINT) AS n_pairs_capped,
                CAST(max(s) AS BIGINT) AS max_cluster_size,
                CAST(sum(s * (s - 1) // 2)
                     - sum(CASE WHEN s <= 25 THEN s * (s - 1) // 2
                                ELSE 300 + 25 * (s - 25) END) AS BIGINT) AS n_pairs_dropped
         FROM cs""")),

    // ---- q183 with the k SemDeDup actually prescribes: cluster count
    // SCALED WITH THE CORPUS (KMeans.scaledK — k = max(10, ⌈N/100⌉)),
    // so per-cluster blocks stay ~divisor-sized as N grows, instead of
    // Θ(N/10) under a pinned k = 10 (which quietly re-quadratizes the
    // pair volume the clustering exists to kill). Training and
    // assignment run KMeans.lloyd's closure scan: centroids are task
    // DATA, not expression literals, so corpus-scaled k hits no
    // codegen/plan-size ceiling. k comes from a 1-row
    // count — driver-sized by definition; k is plan state, like a
    // schema — and the oracle computes the SAME k in SQL (the kk CTE),
    // so ONE oracle string hash-matches at every SF under a DIFFERENT
    // k (sf0.01: N=500 → kmin-clamped k=10; sf0.1: N=2000 → k=20).
    // Pair-cap convention identical to q183 (rep cap 25; the q184
    // telemetry shape applies unchanged to this assignment frame).
    GraftQuery(
      "q203_semdedup_scaled_k",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val cap = 25
        val emb = t(s, d, "embeddings")
        val k = graft.ops.KMeans.scaledK(emb.count())
        val (asg, _) = graft.ops.KMeans.lloyd(
          emb, "vec_id", "embedding", k, iters = 3)
        val n = vecs(s, d).join(asg, "id")
        val reps = n.withColumn("rn",
            row_number().over(Window.partitionBy(col("cluster")).orderBy(col("id"))))
          .filter(col("rn") <= cap)
        Similarity.semDedup(n, reps).orderBy(col("vec_id"))
      },
      Some(graft.ops.KMeans.oracleCtesScaledK(kmin = 10, divisor = 100, iters = 3) + s""",
         n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, cluster
               FROM e JOIN afin USING (vec_id)),
         r AS (SELECT vec_id, v, nrm, cluster,
                      row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
               FROM n),
         p AS (SELECT b.cluster, b.vec_id AS d2,
                      list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cs
               FROM r a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
               WHERE a.rn <= 25)
         SELECT d2 AS vec_id, min(cluster) AS cluster, round(max(cs), 6) AS max_cos
         FROM p WHERE cs >= 0.35 GROUP BY d2 ORDER BY vec_id""")),

    // ---- incremental IVF: persisted centroids + ASSIGN-ONLY path
    // (ops.IvfState — the q90/q204 incremental pattern applied to ANN:
    // the quantizer is k·d parquet state, a new embedding batch pays
    // ONE closure-scan assignment pass, never a re-fit). Fit on the
    // even-id history slice, persist, reload, assign the odd-id "new
    // batch". Deterministic Lloyd (not MLlib) makes the whole
    // fit→persist→load→assign chain oracle-replayable: the oracle
    // re-runs the unrolled fit on the SAME even-id slice and assigns
    // the odd half against the final centroids CTE — any drift in the
    // state round trip, the seed, or the assignment rule is a hash
    // mismatch on every new-batch row.
    GraftQuery(
      "q233_ivf_assign_incremental",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val path = Scratch.dir("q233_ivf", d) + "/state"
        graft.ops.IvfState.fitAndSave(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", k = 10, iters = 2, path)
        val st = graft.ops.IvfState.load(s, path)
        graft.ops.IvfState.assignOnly(
            emb.filter(pmod(col("vec_id"), lit(2)) === 1),
            "vec_id", "embedding", st)
          .select(col("id").as("vec_id"), col("cluster"), col("d"))
          .orderBy(col("vec_id"))
      },
      Some(graft.ops.KMeans.oracleCtes(k = 10, iters = 2,
        eWhere = "vec_id % 2 = 0") + """,
         nb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id % 2 = 1),
         nasg AS (SELECT vec_id, cidx AS cluster, d FROM (
           SELECT nb.vec_id, c.cidx, round(list_distance(nb.v, c.v), 6) AS d,
                  row_number() OVER (PARTITION BY nb.vec_id
                    ORDER BY round(list_distance(nb.v, c.v), 6), c.cidx) AS rn
           FROM nb CROSS JOIN c2 c) WHERE rn = 1)
         SELECT vec_id, cluster, d FROM nasg ORDER BY vec_id""")),

    // ---- the drift gate on top of q233's assign-only frame: mean
    // assigned distance of the new batch vs the persisted fit-time
    // mean — the oracle-checked "is a re-fit actually due" scalar that
    // turns IVF maintenance from a cron guess into a monitored gate.
    // Both means are 6dp-rounded BEFORE the ratio and the integer-
    // scaled threshold comparison (new·100 > fit·120), so the flag is
    // engine-exact (the q210 rounded-band convention).
    GraftQuery(
      "q234_ivf_drift_gate",
      (s, d) => {
        val emb = t(s, d, "embeddings")
        val path = Scratch.dir("q234_ivf", d) + "/state"
        graft.ops.IvfState.fitAndSave(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", k = 10, iters = 2, path)
        val st = graft.ops.IvfState.load(s, path)
        graft.ops.IvfState.driftGate(
          graft.ops.IvfState.assignOnly(
            emb.filter(pmod(col("vec_id"), lit(2)) === 1),
            "vec_id", "embedding", st),
          st)
      },
      Some(graft.ops.KMeans.oracleCtes(k = 10, iters = 2,
        eWhere = "vec_id % 2 = 0") + """,
         fd AS (SELECT e.vec_id, min(round(list_distance(e.v, c.v), 6)) AS d
                FROM e CROSS JOIN c2 c GROUP BY 1),
         nb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                WHERE vec_id % 2 = 1),
         nd AS (SELECT nb.vec_id, min(round(list_distance(nb.v, c.v), 6)) AS d
                FROM nb CROSS JOIN c2 c GROUP BY 1),
         fm AS (SELECT CAST(count(*) AS BIGINT) AS n_fit,
                       round(avg(d), 6) AS fit_mean_dist FROM fd),
         nm AS (SELECT CAST(count(*) AS BIGINT) AS n_new,
                       round(avg(d), 6) AS new_mean_dist FROM nd)
         SELECT fm.n_fit, nm.n_new, fm.fit_mean_dist, nm.new_mean_dist,
                CASE WHEN fm.fit_mean_dist > 0
                     THEN round(nm.new_mean_dist / fm.fit_mean_dist, 6)
                END AS drift_ratio,
                (nm.new_mean_dist * 100 > fm.fit_mean_dist * 120) AS refit_due
         FROM fm CROSS JOIN nm""")),

    // ---- reciprocal-rank fusion (Similarity.rrfFuse — scale rationale
    // there) of the exact-cosine top-5 (q40's list) with the
    // int8-quantized top-5 (q84's list): the hybrid-retrieval combiner
    // demonstrated on two systems whose raw scores are deliberately
    // incomparable (exact vs quantized cosine). Every fused score is a
    // fixed-order sum of two integer-ratio terms — engine-exact,
    // unrounded; the oracle rebuilds both ranked lists and the fusion.
    GraftQuery(
      "q240_rrf_fusion",
      (s, d) => {
        val v = vecs(s, d)
        val exact = Similarity.cosineTopK(v, col("id") < 20, k = 5)
        val qq = Similarity.quantize(v)
        val a = qq.select(col("id").as("qid"), col("qv").as("qa"),
          col("scale").as("sa"), col("nrm").as("na"))
        val b = qq.select(col("id").as("nid"), col("qv").as("qb"),
          col("scale").as("sb"), col("nrm").as("nb"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("qid")).orderBy(col("cos_q").desc, col("nid"))
        val quant = a.filter(col("qid") < 20)
          .join(b, col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(expr("array_dot(qa, qb)") * col("sa") * col("sb") /
              (col("na") * col("nb")), 6).as("cos_q"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
        Similarity.rrfFuse(exact, quant, k = 3)
          .select(col("qid"), col("nid"), col("rank_a").as("rank_exact"),
            col("rank_b").as("rank_quant"), col("rrf"), col("fused_rank"))
          .orderBy(col("qid"), col("fused_rank"))
      },
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              px AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
                            round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cs
                     FROM n q JOIN n x ON q.vec_id < 20 AND x.vec_id <> q.vec_id),
              la AS (SELECT qid, nid, rn FROM
                       (SELECT qid, nid,
                               row_number() OVER (PARTITION BY qid
                                 ORDER BY cs DESC, nid) AS rn
                        FROM px)
                     WHERE rn <= 5),
              q AS (SELECT vec_id, v, nrm,
                           greatest(list_max([abs(x) FOR x IN v]) / 127, 1e-12) AS scale
                    FROM n),
              qq AS (SELECT vec_id, nrm, scale,
                            [CAST(floor(x / scale + 0.5) AS DOUBLE) FOR x IN v] AS qv
                     FROM q),
              pq AS (SELECT a.vec_id AS qid, b.vec_id AS nid,
                            round(list_dot_product(a.qv, b.qv) * a.scale * b.scale
                                  / (a.nrm * b.nrm), 6) AS cq
                     FROM qq a JOIN qq b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
              lb AS (SELECT qid, nid, rn FROM
                       (SELECT qid, nid,
                               row_number() OVER (PARTITION BY qid
                                 ORDER BY cq DESC, nid) AS rn
                        FROM pq)
                     WHERE rn <= 5),
              fused AS (SELECT COALESCE(la.qid, lb.qid) AS qid,
                               COALESCE(la.nid, lb.nid) AS nid,
                               CAST(la.rn AS INT) AS rank_exact,
                               CAST(lb.rn AS INT) AS rank_quant,
                               COALESCE(CAST(1.0 AS DOUBLE) / (60 + la.rn), 0.0)
                                 + COALESCE(CAST(1.0 AS DOUBLE) / (60 + lb.rn), 0.0)
                                 AS rrf
                        FROM la FULL OUTER JOIN lb
                          ON la.qid = lb.qid AND la.nid = lb.nid)
              SELECT qid, nid, rank_exact, rank_quant, rrf,
                     CAST(fused_rank AS INT) AS fused_rank
              FROM (SELECT qid, nid, rank_exact, rank_quant, rrf,
                           row_number() OVER (PARTITION BY qid
                             ORDER BY rrf DESC, nid) AS fused_rank
                    FROM fused)
              WHERE fused_rank <= 3 ORDER BY qid, fused_rank""")),

    // ---- ratio-margin mining (Similarity.marginTopMatch): the
    // bitext-mining score — each even-id "query language" vector's best
    // odd-id "corpus language" match by cos/((avgNN(x)+avgNN(y))/2),
    // which demotes hub vectors that score high against EVERYTHING.
    // Both kNN averages come from one cross-side pair frame windowed on
    // its two keys; the margin is one division of exact longs (6dp
    // cosine scaled integer, long sums/products), emitted UNROUNDED —
    // the q231/q238 exact-rational convention. Query side bounded to 20
    // vectors (the q40 face convention); at 100 TB the identical
    // arithmetic runs on LSH/IVF candidate frames instead of the cross
    // join.
    GraftQuery(
      "q246_margin_mining",
      (s, d) => Similarity.marginTopMatch(
          vecs(s, d).filter(col("id") % 2 === 1 ||
            (col("id") % 2 === 0 && col("id") < 40)),
          col("id") % 2 === 0, k = 4)
        .select(col("qid"), col("nid"), col("cos_sim"), col("margin"))
        .orderBy(col("qid")),
      Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
                         FROM embeddings
                         WHERE vec_id % 2 = 1
                            OR (vec_id % 2 = 0 AND vec_id < 40)),
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm
                    FROM e),
              p AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
                           round(list_dot_product(q.v, x.v)
                             / (q.nrm * x.nrm), 6) AS cos_sim
                    FROM n q JOIN n x
                      ON q.vec_id % 2 = 0 AND x.vec_id % 2 = 1),
              pl AS (SELECT qid, nid, cos_sim,
                            CAST(round(cos_sim * 1e6) AS BIGINT) AS cos_l
                     FROM p),
              kq AS (SELECT * FROM (SELECT pl.*, row_number() OVER
                       (PARTITION BY qid ORDER BY cos_sim DESC, nid) AS rn
                     FROM pl) WHERE rn <= 4),
              dq AS (SELECT qid, CAST(sum(cos_l) AS BIGINT) AS den_q,
                            CAST(count(*) AS BIGINT) AS cnt_q
                     FROM kq GROUP BY 1),
              kc AS (SELECT * FROM (SELECT pl.*, row_number() OVER
                       (PARTITION BY nid ORDER BY cos_sim DESC, qid) AS rn2
                     FROM pl) WHERE rn2 <= 4),
              dc AS (SELECT nid, CAST(sum(cos_l) AS BIGINT) AS den_c,
                            CAST(count(*) AS BIGINT) AS cnt_c
                     FROM kc GROUP BY 1),
              m AS (SELECT k.qid, k.nid, k.cos_sim,
                           CASE WHEN dq.den_q * dc.cnt_c
                                   + dc.den_c * dq.cnt_q <> 0
                                THEN CAST(2 * k.cos_l * dq.cnt_q * dc.cnt_c
                                       AS DOUBLE)
                                     / CAST(dq.den_q * dc.cnt_c
                                         + dc.den_c * dq.cnt_q AS DOUBLE)
                           END AS margin
                    FROM kq k
                    JOIN dq ON dq.qid = k.qid
                    JOIN dc ON dc.nid = k.nid)
              SELECT qid, nid, cos_sim, margin
              FROM (SELECT m.*, row_number() OVER (PARTITION BY qid
                      ORDER BY margin DESC NULLS LAST, nid) AS mrn
                    FROM m)
              WHERE mrn = 1 ORDER BY qid""")),

    // ---- contrastive triplet mining — the training-data generator
    // for embedding fine-tuning: per anchor, a POSITIVE (best
    // same-bucket neighbor at or above the q41 near-dup threshold) and
    // a HARD NEGATIVE (the closest same-bucket neighbor BELOW it — the
    // negatives that actually move a contrastive loss; random
    // negatives are trivially separated and teach nothing). Candidates
    // come from the sign-LSH buckets (per-bucket blocks, never N² —
    // the q42 scale path), both picks are (cos DESC, id) window top-1s
    // over ONE candidate frame, and only anchors with BOTH sides
    // emit — a deterministic, reproducible triplet set, which is what
    // makes the training corpus rebuildable at 100 TB.
    GraftQuery(
      "q263_triplet_mining",
      (s, d) => {
        val e = Similarity.withLshBucket(vecs(s, d), planes = nPlanes(s, d))
        // every vector anchors (the mining pass IS corpus-wide; pair
        // volume stays per-bucket-block-bounded, the q63 formulation)
        val q = e
          .select(col("id").as("qid"), col("v").as("va"), col("nrm").as("qn"),
            col("bucket"))
        val x = e.select(col("id").as("nid"), col("v").as("vb"),
          col("nrm").as("nn"), col("bucket").as("bucket2"))
        val cand = q.join(x, col("bucket") === col("bucket2") &&
            col("qid") =!= col("nid"))
          .select(col("qid"), col("nid"),
            round(expr("array_dot(va, vb)") / (col("qn") * col("nn")), 6)
              .as("cos_sim"))
        // both picks in ONE aggregate pass over the candidate frame
        // (two filter+window branches would re-run the bucket
        // self-join per side), via the hash-aggregable [[TripletPick]]
        // Aggregator — same (cos DESC, nid ASC) winner per branch the
        // max(struct(cos, −nid)) form produced, but planning
        // ObjectHashAggregate with map-side combine instead of the
        // SortAggregate the struct buffer forced (r21: sort-per-group
        // over the bucket-block candidate frame removed)
        val pick = udaf(new TripletPick)
        cand.groupBy(col("qid"))
          .agg(pick(col("cos_sim"), col("nid"), col("cos_sim") >= 0.35).as("pn"))
          // sentinel cos = −2 marks an empty branch (the CASE form's NULL)
          .filter(col("pn._1._1") >= -1.0 && col("pn._2._1") >= -1.0)
          .select(col("qid"), col("pn._1._2").as("pos_id"),
            col("pn._1._1").as("pos_cos"),
            col("pn._2._2").as("neg_id"), col("pn._2._1").as("neg_cos"))
          .orderBy(col("qid"))
      },
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
              $ppCte,
              n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              bk AS (SELECT vec_id, v, nrm,
                       CAST(list_sum([CASE WHEN list_sum([v[dm] * CAST((CAST(1103515245 AS BIGINT) * (p * 64 + dm) + 12345) % 2001 - 1000 AS DOUBLE)
                                                          FOR dm IN range(1, 65)]) > 0
                                           THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END
                                      FOR p IN $pRange]) AS BIGINT) AS bucket
                     FROM n),
              cand AS (SELECT q.vec_id AS qid, x.vec_id AS nid,
                              round(list_dot_product(q.v, x.v)
                                / (q.nrm * x.nrm), 6) AS cos_sim
                       FROM bk q JOIN bk x
                         ON q.bucket = x.bucket
                        AND x.vec_id <> q.vec_id),
              pos AS (SELECT qid, nid AS pos_id, cos_sim AS pos_cos
                      FROM (SELECT cand.*, row_number() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, nid) AS rn
                            FROM cand WHERE cos_sim >= 0.35)
                      WHERE rn = 1),
              neg AS (SELECT qid, nid AS neg_id, cos_sim AS neg_cos
                      FROM (SELECT cand.*, row_number() OVER (PARTITION BY qid
                              ORDER BY cos_sim DESC, nid) AS rn
                            FROM cand WHERE cos_sim < 0.35)
                      WHERE rn = 1)
              SELECT p.qid, p.pos_id, p.pos_cos, ng.neg_id, ng.neg_cos
              FROM pos p JOIN neg ng ON ng.qid = p.qid
              ORDER BY p.qid""")),

    // ---- SEMANTIC decontamination: eval↔train near-dups at the
    // embedding level — the contamination n-gram matching (q81)
    // structurally misses: a paraphrased or translated eval item
    // shares no 8-gram with its training twin but sits next to it in
    // embedding space. Split = label 0 (the held-out class) vs the
    // rest; candidates must share a corpus-scaled sign-LSH bucket
    // (per-bucket blocks, never |eval|×|train|), exact-cosine gated
    // at 0.35 (the q41 threshold; probe: 9/12/83 flagged pairs at
    // sf0.001/0.01/0.1 — non-vacuous at every SF). At 100 TB this is
    // the standing pre-release gate: the train side streams through
    // the bucket join, the eval side is the small batch.
    GraftQuery(
      "q306_semantic_decontam",
      (s, d) => {
        val e = Similarity.withLshBucket(
          Similarity.prepare(t(s, d, "embeddings"), keep = Seq("label")),
          planes = nPlanes(s, d))
        val ev = e.filter(col("label") === 0)
          .select(col("id").as("eval_id"), col("v").as("va"),
            col("nrm").as("qn"), col("bucket"))
        val tr = e.filter(col("label") =!= 0)
          .select(col("id").as("train_id"), col("v").as("vb"),
            col("nrm").as("nn"), col("bucket").as("b2"))
        ev.join(tr, col("bucket") === col("b2"))
          .select(col("eval_id"), col("train_id"),
            round(expr("array_dot(va, vb)") / (col("qn") * col("nn")), 6).as("cos_sim"))
          .filter(col("cos_sim") >= 0.35)
          .orderBy(col("eval_id"), col("train_id"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
              $ppCte,
              n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
              bk AS (SELECT vec_id, label, v, nrm,
                       CAST(list_sum([CASE WHEN list_sum([v[dm] * CAST((CAST(1103515245 AS BIGINT) * (p * 64 + dm) + 12345) % 2001 - 1000 AS DOUBLE)
                                                          FOR dm IN range(1, 65)]) > 0
                                           THEN CAST(pow(2, p) AS BIGINT) ELSE 0 END
                                      FOR p IN $pRange]) AS BIGINT) AS bucket
                     FROM n)
              SELECT eval_id, train_id, cos_sim FROM
                (SELECT q.vec_id AS eval_id, x.vec_id AS train_id,
                        round(list_dot_product(q.v, x.v) / (q.nrm * x.nrm), 6) AS cos_sim
                 FROM bk q JOIN bk x ON q.bucket = x.bucket
                   AND q.label = 0 AND x.label <> 0)
              WHERE cos_sim >= 0.35 ORDER BY eval_id, train_id""")),

    // ---- embedding-space anisotropy: the top covariance eigenvalue's
    // share of total variance, with the dominant direction's loadings
    // — the standard representation-collapse diagnostic (an isotropic
    // space spreads variance across dims; a collapsed one funnels it
    // into one rogue direction, which breaks cosine ranking and is
    // what q164's per-dim marginals cannot see: they miss CROSS-dim
    // structure entirely). Determinism contract: embeddings quantize
    // to exact-long fixed-point (floor(x·1e6) — the q84 declared-
    // quantization precedent), so the Gram matrix and dim sums are
    // EXACT INTEGER sufficient statistics (exact while N·1e12 < 2⁶³,
    // i.e. N < 9.2e6 vectors at |x| ≤ 1); the covariance, 20 power-
    // iteration rounds (fixed uniform start, matvec/normalize folds
    // all in ascending index order) and the Rayleigh quotient are then
    // a fixed double program replayed identically by the oracle's
    // recursive list-carrying CTE (the q312 vector-state form). Scale:
    // the one corpus-sized pass is the Gram fan-out (N·d² products
    // through a 2080-group map-side-combining aggregate); everything
    // driver-side is d²-bounded (d ≤ 256 guarded) — the k-bounded-
    // collect class, same as the k-means centroid pulls.
    GraftQuery(
      "q338_embedding_anisotropy",
      // the Gram state + eigen read live in ops.Anisotropy (r19),
      // shared byte-identically with the streaming collapse monitor
      // (EventStreams.gramBatch / anisotropyCurrent — the integer
      // state is the read's sufficient statistic)
      (s, d) => graft.ops.Anisotropy.anisotropyFromState(
        graft.ops.Anisotropy.gramState(
          t(s, d, "embeddings"), col("embedding"))),
      Some("""WITH RECURSIVE q AS (SELECT [CAST(floor(CAST(x AS DOUBLE)
                       * 1000000.0) AS BIGINT) FOR x IN embedding] AS q
                    FROM embeddings),
              dm AS (SELECT len(q) AS dd FROM q LIMIT 1),
              idx AS (SELECT unnest(range(0, (SELECT dd FROM dm))) AS i),
              nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
              sv AS (SELECT idx.i, CAST(sum(q.q[idx.i + 1]) AS BIGINT) AS sv
                     FROM q CROSS JOIN idx GROUP BY 1),
              cells AS (SELECT a.i AS i, b.i AS j,
                          CAST(sum(q.q[a.i + 1] * q.q[b.i + 1]) AS BIGINT)
                            AS g
                        FROM q CROSS JOIN idx a CROSS JOIN idx b
                        WHERE b.i >= a.i GROUP BY 1, 2),
              covu AS (SELECT c.i, c.j,
                         (CAST(c.g AS DOUBLE)
                          - CAST(si.sv AS DOUBLE) * CAST(sj.sv AS DOUBLE)
                            / CAST(nn.n AS DOUBLE)) / CAST(nn.n AS DOUBLE)
                           AS cv
                       FROM cells c JOIN sv si ON si.i = c.i
                            JOIN sv sj ON sj.i = c.j CROSS JOIN nn),
              covf AS (SELECT i, j, cv FROM covu
                       UNION ALL SELECT j, i, cv FROM covu WHERE i <> j),
              cm AS (SELECT list(rl ORDER BY i) AS cm FROM
                       (SELECT i, list(cv ORDER BY j) AS rl FROM covf
                        GROUP BY i)),
              v0 AS (SELECT list_transform(range(0, dd),
                       x -> 1.0 / sqrt(CAST(dd AS DOUBLE))) AS v FROM dm),
              pi(t, v) AS (
                SELECT 0, v FROM v0
                UNION ALL
                SELECT t + 1, list_transform(w, x -> x / nrm) FROM (
                  SELECT t, w,
                         sqrt(list_reduce(list_transform(w, x -> x * x),
                           (a, b) -> a + b)) AS nrm FROM (
                    SELECT pi.t,
                           list_transform(cm.cm, r -> list_reduce(
                             list_transform(range(1, len(r) + 1),
                               k -> r[k] * pi.v[k]),
                             (a, b) -> a + b)) AS w
                    FROM pi CROSS JOIN cm WHERE pi.t < 20))),
              fin AS (SELECT v FROM pi WHERE t = 20),
              wv AS (SELECT fin.v AS v,
                       list_transform(cm.cm, r -> list_reduce(
                         list_transform(range(1, len(r) + 1),
                           k -> r[k] * fin.v[k]),
                         (a, b) -> a + b)) AS w
                     FROM fin CROSS JOIN cm),
              met AS (SELECT list_reduce(
                        list_transform(range(1, len(v) + 1),
                          k -> v[k] * w[k]),
                        (a, b) -> a + b) AS lambda1
                      FROM wv),
              trc AS (SELECT list_reduce(list_transform(
                        list(struct_pack(i := i, x := cv) ORDER BY i),
                        e -> e.x), (a, b) -> a + b) AS trace
                      FROM covf WHERE i = j)
              SELECT CAST(t.k - 1 AS BIGINT) AS dim,
                     round(fin.v[t.k], 6) AS loading,
                     round(met.lambda1, 6) AS lambda1,
                     round(trc.trace, 6) AS trace,
                     CASE WHEN trc.trace > 0
                          THEN round(met.lambda1 / trc.trace, 6)
                     END AS anisotropy
              FROM fin CROSS JOIN met CROSS JOIN trc,
                   unnest(range(1, len(fin.v) + 1)) AS t(k)
              ORDER BY dim""")),

    // ---- q338 stratified by label: per-class anisotropy — WHICH
    // population is collapsing, the question the pooled number hides
    // (a healthy global space can hide one degenerate class, and
    // class-conditional anisotropy is the standard probe for it).
    // One typed groupByKey + GramAggregator pass builds a buffer per
    // label (map-side combine, |labels| buffers exchanged), the eigen
    // read (ops.Anisotropy.summaryFromBuffer — the same fixed double
    // program) runs per label on the driver (|labels|·d²-bounded, the
    // k-bounded-collect class), and the oracle threads the label
    // through q338's recursive CTE — the vector-state replay now
    // carrying (label, v) rows. Probe: per-label shares run 6.0–7.3%
    // at sf0.001 and 3.4–3.8% at sf0.1 vs the pooled 2.8/2.0% —
    // every class carries 2–3× the dominant-direction concentration
    // the pooled read reports, the within-class structure the global
    // number dilutes.
    GraftQuery(
      "q342_anisotropy_by_label",
      (s, d) => {
        import s.implicits._
        val byL = t(s, d, "embeddings")
          .select(col("label").cast("long").as("lbl"),
            expr("transform(embedding, x -> " +
              "cast(floor(cast(x as double) * 1000000.0) as bigint))")
              .as("q"))
          .as[(Long, Array[Long])]
          .groupByKey(_._1)
          .mapValues(_._2)
          .agg(new graft.ops.Anisotropy.GramAggregator().toColumn.name("b"))
          .collect() // |labels| buffers, the k-bounded-collect class
        import graft.ops.Anisotropy.r6
        byL.toSeq.sortBy(_._1).map { case (lbl, buf) =>
          val (nVec, l1, tr) = graft.ops.Anisotropy.summaryFromBuffer(buf)
          (lbl, nVec, r6(l1), r6(tr),
            if (tr > 0) Some(r6(l1 / tr)) else None)
        }.toDF("label", "n_vectors", "lambda1", "trace", "anisotropy")
          .orderBy(col("label"))
      },
      Some("""WITH RECURSIVE q AS (SELECT label AS lbl,
                      [CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)
                       FOR x IN embedding] AS q
                    FROM embeddings),
              dm AS (SELECT len(q) AS dd FROM q LIMIT 1),
              idx AS (SELECT unnest(range(0, (SELECT dd FROM dm))) AS i),
              nn AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n
                     FROM q GROUP BY 1),
              sv AS (SELECT lbl, idx.i,
                       CAST(sum(q.q[idx.i + 1]) AS BIGINT) AS sv
                     FROM q CROSS JOIN idx GROUP BY 1, 2),
              cells AS (SELECT lbl, a.i AS i, b.i AS j,
                          CAST(sum(q.q[a.i + 1] * q.q[b.i + 1]) AS BIGINT)
                            AS g
                        FROM q CROSS JOIN idx a CROSS JOIN idx b
                        WHERE b.i >= a.i GROUP BY 1, 2, 3),
              covu AS (SELECT c.lbl, c.i, c.j,
                         (CAST(c.g AS DOUBLE)
                          - CAST(si.sv AS DOUBLE) * CAST(sj.sv AS DOUBLE)
                            / CAST(nn.n AS DOUBLE)) / CAST(nn.n AS DOUBLE)
                           AS cv
                       FROM cells c
                       JOIN sv si ON si.lbl = c.lbl AND si.i = c.i
                       JOIN sv sj ON sj.lbl = c.lbl AND sj.i = c.j
                       JOIN nn ON nn.lbl = c.lbl),
              covf AS (SELECT lbl, i, j, cv FROM covu
                       UNION ALL
                       SELECT lbl, j, i, cv FROM covu WHERE i <> j),
              cm AS (SELECT lbl, list(rl ORDER BY i) AS cm FROM
                       (SELECT lbl, i, list(cv ORDER BY j) AS rl
                        FROM covf GROUP BY lbl, i)
                     GROUP BY lbl),
              v0 AS (SELECT lbl, list_transform(range(0, dd),
                       x -> 1.0 / sqrt(CAST(dd AS DOUBLE))) AS v
                     FROM cm CROSS JOIN dm),
              pi(t, lbl, v) AS (
                SELECT 0, lbl, v FROM v0
                UNION ALL
                SELECT t + 1, lbl, list_transform(w, x -> x / nrm) FROM (
                  SELECT t, lbl, w,
                         sqrt(list_reduce(list_transform(w, x -> x * x),
                           (a, b) -> a + b)) AS nrm FROM (
                    SELECT pi.t, pi.lbl,
                           list_transform(cm.cm, r -> list_reduce(
                             list_transform(range(1, len(r) + 1),
                               k -> r[k] * pi.v[k]),
                             (a, b) -> a + b)) AS w
                    FROM pi JOIN cm ON cm.lbl = pi.lbl
                    WHERE pi.t < 20))),
              fin AS (SELECT lbl, v FROM pi WHERE t = 20),
              wv AS (SELECT fin.lbl, fin.v,
                       list_transform(cm.cm, r -> list_reduce(
                         list_transform(range(1, len(r) + 1),
                           k -> r[k] * fin.v[k]),
                         (a, b) -> a + b)) AS w
                     FROM fin JOIN cm ON cm.lbl = fin.lbl),
              met AS (SELECT lbl, list_reduce(
                        list_transform(range(1, len(v) + 1),
                          k -> v[k] * w[k]),
                        (a, b) -> a + b) AS lambda1
                      FROM wv),
              trc AS (SELECT lbl, list_reduce(list_transform(
                        list(struct_pack(i := i, x := cv) ORDER BY i),
                        e -> e.x), (a, b) -> a + b) AS trace
                      FROM covf WHERE i = j GROUP BY lbl)
              SELECT CAST(nn.lbl AS BIGINT) AS label, nn.n AS n_vectors,
                     round(met.lambda1, 6) AS lambda1,
                     round(trc.trace, 6) AS trace,
                     CASE WHEN trc.trace > 0
                          THEN round(met.lambda1 / trc.trace, 6)
                     END AS anisotropy
              FROM nn JOIN met ON met.lbl = nn.lbl
                      JOIN trc ON trc.lbl = nn.lbl
              ORDER BY label"""))
  )
}
