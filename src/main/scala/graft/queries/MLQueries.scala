package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import graft.multimodal.Multimodal
import graft.ops.Portable
import graft.pipelines.{MentionRecommender, UserSimilarity}
import graft.streaming.EventStreams

/** The W1/W2 pipeline surfaces (SURVEY §2.9 M1-M7) plus streaming and
  * multimodal entries.
  *
  * ML-vector results (M1-M5 feature spaces, ALS factors) are not
  * DuckDB-expressible, so those queries carry no oracle (rows-only at the
  * driver; invariants live in the ScalaTest specs). The relational
  * TF-IDF cosine (q51) IS oracle-checked and shares W1's semantics —
  * that's the cross-check that the pipeline math is right.
  */
object MLQueries {
  import Tables.{apply => t}

  /** Per-(item, hour) concurrency cap for the co-engagement graph
    * family (q135/q138/q144/q145/q156/q158/q187/q200) —
    * [[graft.ops.Graph.coActivityEdges]]'s maxBlockUsers. 12 does not
    * bind on today's fixtures (max block occupancy: 3 at sf0.01, 9 at
    * sf0.1 — results identical to the uncapped join), but on the r18
    * 10× rehearsal it is load-bearing: occupancies densify linearly
    * with corpus volume over the fixed item/time domain, so uncapped
    * co-activity edges grew 101× (67k → 6.78M) for 10× data and
    * triangle counting blew up 138×; capped, edge growth is ~linear.
    * q277 surfaces what the cap drops (the q101/q184 telemetry
    * convention). */
  private val CoActivityCap = 12

  /** ONE co-engagement activity frame for the whole graph family:
    * (blk = "item|epoch-micros-of-hour", u = user). The epoch form
    * (unix_micros / epoch_us) keeps the block key — and therefore the
    * portable rank hash — free of timestamp-to-string format drift
    * between engines. */
  private def coActivity(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "events")
      .filter(col("user_id").isNotNull && Tables.propsItem.isNotNull)
      .select(concat_ws("|", Tables.propsItem,
        unix_micros(date_trunc("hour", col("ts")))).as("blk"),
        col("user_id").as("u"))

  private def coEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.Graph.coActivityEdges(
      coActivity(s, d), col("blk"), col("u"), CoActivityCap)

  private def coEdgesWeighted(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.ops.Graph.coActivityEdgesWeighted(
      coActivity(s, d), col("blk"), col("u"), CoActivityCap)

  /** The blocked-activity CTE both [[coEdgeSql]] and the q277
    * telemetry oracle build on. */
  private val coActivitySqlCte: String =
    """i AS (SELECT DISTINCT CAST(props->>'k' AS INTEGER) || '|' ||
      |             epoch_us(date_trunc('hour', ts)) AS blk, user_id AS u
      |      FROM events
      |      WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL)""".stripMargin

  /** The DuckDB twin of [[coEdges]]/[[coEdgesWeighted]]: CTEs `i`
    * (blocked activity), `r` (portable hash rank within block), `kept`
    * (capped representatives), and `e` (distinct pairs `u1 < u2`, or
    * (u1, u2, w) multiplicity when `weighted`). The rank replays
    * [[graft.ops.Graph.coActivityEdges]]'s selection exactly:
    * p60(blk|u) DIV 256 ascending, ties by user ascending. */
  private def coEdgeSql(weighted: Boolean = false, eMat: Boolean = false,
      eName: String = "e"): String = {
    val mat = if (eMat) "MATERIALIZED " else ""
    val e =
      if (weighted)
        s"""$eName AS $mat(SELECT a.u AS u1, b.u AS u2, CAST(count(*) AS BIGINT) AS w
           |     FROM kept a JOIN kept b ON a.blk = b.blk AND a.u < b.u
           |     GROUP BY 1, 2)""".stripMargin
      else
        s"""$eName AS $mat(SELECT DISTINCT a.u AS u1, b.u AS u2
           |     FROM kept a JOIN kept b ON a.blk = b.blk AND a.u < b.u)""".stripMargin
    s"""$coActivitySqlCte,
       |r AS (SELECT blk, u, row_number() OVER (PARTITION BY blk
       |        ORDER BY ('0x' || substring(md5(blk || '|' || u), 1, 15))::BIGINT // 256,
       |                 u) AS rk
       |      FROM i),
       |kept AS (SELECT blk, u FROM r WHERE rk <= $CoActivityCap),
       |$e""".stripMargin
  }

  /** The deterministic rational quality score + weak label the
    * q232/q238 calibration pair shares — ONE definition for both faces
    * and (via [[qualityScoredSql]]) both oracles, so the heuristic
    * (80-token cap, 4x stop-ratio penalty, q110's weak-label corner)
    * cannot drift between the diagnostic and the recalibration map.
    * p = (min(n_tokens, 80)/80) * (1 - min(4*stop_ratio, 1)): every
    * step a correctly-rounded IEEE op on exact integer inputs, so p is
    * bit-identical cross-engine. */
  private def qualityScored(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    t(s, d, "documents")
      .select(graft.ops.Portable.tokens(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(size(col("w")).as("nt"),
        (expr(s"size(filter(w, t -> t IN (${TextQueries.stopListSql})))")
          .cast("double") / size(col("w"))).as("sr"))
      .select(
        ((least(col("nt"), lit(80)).cast("double") / lit(80.0)) *
          (lit(1.0) - least(col("sr") * lit(4), lit(1.0)))).as("p"),
        when(col("nt") >= 40 && col("sr") <= 0.10, 1L).otherwise(0L).as("y"))

  /** The per-user time-to-first-conversion frame the q249/q250 pair
    * shares — ONE definition for both faces and both oracles. Per
    * user: t = elapsed FULL hours from first event to first purchase
    * (integer floor division of epoch micros — engine-identical,
    * unlike hour-boundary counting), capped at the 72 h horizon;
    * event = converted within the horizon. Non-converters are
    * RIGHT-CENSORED at min(72, observed follow-up): a user whose
    * first event is 1 h before the stream ends has 1 h of follow-up,
    * not 72 — censoring them at 72 would inflate every later risk set
    * (a bias the oracle could never catch, since both engines would
    * share it; the stream end is the global max ts, a 1-row broadcast).
    * Columns: (user_id, t: long, event: boolean). */
  private def conversion72(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val ev = t(s, d, "events").filter(col("user_id").isNotNull)
    val t0 = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val fp = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts")).as("pts"))
    val gmax = ev.agg(max(col("ts")).as("gts"))
    t0.join(fp, Seq("user_id"), "left_outer")
      .crossJoin(broadcast(gmax))
      .select(col("user_id"),
        expr("(unix_micros(pts) - unix_micros(t0)) DIV 3600000000").as("h"),
        expr("(unix_micros(gts) - unix_micros(t0)) DIV 3600000000").as("fu"))
      .select(col("user_id"),
        when(col("h").isNotNull && col("h") <= 72, col("h"))
          .otherwise(least(lit(72L), col("fu"))).as("t"),
        coalesce(col("h").isNotNull && col("h") <= 72, lit(false)).as("event"))
  }

  /** The interaction frame + deterministic top-5 rec list the
    * q216/q271 eval pair shares — ONE definition so the coverage and
    * novelty read-outs always measure exactly the rec list the
    * accuracy metrics scored (same even-event split, same (count DESC,
    * item) tie order). Returns (ev, recs): ev = (event_id, user,
    * item), recs = (user, item, rank ≤ 5). */
  private def recEval(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val ev = t(s, d, "events")
      .filter(col("user_id").isNotNull && Tables.propsItem.isNotNull)
      .select(col("event_id"), col("user_id").as("user"),
        Tables.propsItem.as("item"))
    val counts = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .groupBy(col("user"), col("item")).agg(count(lit(1)).as("c"))
    val recs = counts.withColumn("rank",
        row_number().over(Window.partitionBy(col("user"))
          .orderBy(col("c").desc, col("item"))))
      .filter(col("rank") <= 5)
      .select(col("user"), col("item"), col("rank"))
    (ev, recs)
  }

  /** The DuckDB twin of [[recEval]]: `ev` + `cnt` + `recs` CTE bodies
    * (use as `WITH $recEvalSql, ...`; ev has event_id/u/item, recs has
    * u/item/rank). */
  private val recEvalSql: String =
    """ev AS (SELECT event_id, user_id AS u,
      |              CAST(props->>'k' AS INTEGER) AS item
      |       FROM events
      |       WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL),
      |cnt AS (SELECT u, item, count(*) AS c FROM ev
      |        WHERE event_id % 2 = 0 GROUP BY 1, 2),
      |recs AS (SELECT u, item, rank FROM (
      |           SELECT u, item, row_number() OVER (PARTITION BY u
      |             ORDER BY c DESC, item) AS rank
      |           FROM cnt) WHERE rank <= 5)""".stripMargin

  /** The DuckDB twin of [[conversion72]]: CTE bodies ending in `lab`
    * (columns user_id, t, event); use as `WITH $conversion72Sql, ...`. */
  private val conversion72Sql: String =
    """ev AS (SELECT user_id, ts, event_type FROM events
      |        WHERE user_id IS NOT NULL),
      |t0 AS (SELECT user_id, min(ts) AS t0 FROM ev GROUP BY 1),
      |fp AS (SELECT user_id, min(ts) AS pts FROM ev
      |       WHERE event_type = 'purchase' GROUP BY 1),
      |g AS (SELECT max(ts) AS gts FROM ev),
      |u AS (SELECT t0.user_id,
      |             (epoch_us(fp.pts) - epoch_us(t0.t0)) // 3600000000 AS h,
      |             (epoch_us(g.gts) - epoch_us(t0.t0)) // 3600000000 AS fu
      |      FROM t0 LEFT JOIN fp ON fp.user_id = t0.user_id CROSS JOIN g),
      |lab AS (SELECT user_id,
      |               CAST(CASE WHEN h IS NOT NULL AND h <= 72 THEN h
      |                         ELSE LEAST(72, fu) END AS BIGINT) AS t,
      |               COALESCE(h IS NOT NULL AND h <= 72, false) AS event
      |        FROM u)""".stripMargin

  /** The DuckDB twin of [[qualityScored]]: `f` + `sc` CTE bodies (use
    * as `WITH $qualityScoredSql, ...`; `sc` has columns p, y). */
  private val qualityScoredSql: String =
    s"""f AS (SELECT len(w) AS nt,
       |            len(list_filter(w, t -> t IN (${TextQueries.stopListSql})))
       |              * 1.0 / len(w) AS sr
       |     FROM (SELECT string_split_regex(trim(text), '\\s+') AS w
       |           FROM documents)
       |     WHERE len(w) > 0),
       |sc AS (SELECT (LEAST(nt, 80) / 80.0)
       |                * (1.0 - LEAST(sr * 4, 1.0)) AS p,
       |              CASE WHEN nt >= 40 AND sr <= 0.10
       |                   THEN 1 ELSE 0 END AS y
       |       FROM f)""".stripMargin

  private val w1SimsSql =
    """WITH tf AS (SELECT user_id, props->>'k' AS item, CAST(count(*) AS DOUBLE) AS tf
                   FROM events WHERE props->>'k' IS NOT NULL GROUP BY 1, 2),
       m AS (SELECT count(DISTINCT user_id) AS m FROM tf),
       df AS (SELECT item, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
       w AS (SELECT user_id, tf.item, tf * ln((m + 1.0) / (df + 1.0)) AS w
             FROM tf JOIN df USING (item) CROSS JOIN m),
       norms AS (SELECT user_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
       wn AS (SELECT w.user_id, item, w.w, nrm FROM w JOIN norms USING (user_id)),
       sims AS (SELECT q.user_id AS qu, o.user_id AS ou,
                       round(sum(q.w * o.w) / (max(q.nrm) * max(o.nrm)), 6) AS sim
                FROM wn q JOIN wn o ON q.item = o.item AND q.user_id <> o.user_id
                WHERE q.user_id < 30 GROUP BY 1, 2)"""

  // lazy so `rankCompare` (and its RboK constant, both declared below
  // for file locality) are fully initialized before concatenation
  lazy val all: Seq[GraftQuery] = rankCompare ++ Seq(

    // ---- W1 as sparse relational TF-IDF cosine (the scale path;
    // oracle-checked — this pins the IDF closed form and the reference's
    // top-5 tie semantics: sim DESC, other id DESC).
    GraftQuery(
      "q51_w1_tfidf_relational",
      (s, d) => UserSimilarity.relationalTopK(t(s, d, "events"), queryMax = 30, k = 5),
      Some(s"""$w1SimsSql
               SELECT qu, ou, sim, rn FROM
                 (SELECT qu, ou, sim,
                         row_number() OVER (PARTITION BY qu ORDER BY sim DESC, ou DESC) AS rn
                  FROM sims)
               WHERE rn <= 5 ORDER BY qu, rn""")),

    // ---- W1 via the ml.feature chain (M1-M5): TF-IDF feature space.
    GraftQuery(
      "q50_w1_tfidf_topk",
      (s, d) => {
        val feats = UserSimilarity.featurize(
          UserSimilarity.userDocs(t(s, d, "events")),
          UserSimilarity.Params(computeCv = false))
        UserSimilarity.topKSimilar(feats, col("user_id") < 30, "tfidf_norm")
          .orderBy(col("query_user"), col("rn"))
      },
      None, companion = Some("q51_w1_tfidf_relational")),

    // ---- W1 via CountVectorizer space (the second feature space of
    // COMP5349_2.py:155-157,178).
    GraftQuery(
      "q50_w1_cv_topk",
      (s, d) => {
        val feats = UserSimilarity.featurize(
          UserSimilarity.userDocs(t(s, d, "events")),
          UserSimilarity.Params(computeTfidf = false))
        UserSimilarity.topKSimilar(feats, col("user_id") < 30, "cv_norm")
          .orderBy(col("query_user"), col("rn"))
      },
      None, companion = Some("q79_w1_cv_relational")),

    // ---- W1 via Word2Vec embeddings (the import the reference never
    // used — notebook:78). Neural embeddings aren't oracle-expressible;
    // rows-only, invariants in PipelineSpec.
    GraftQuery(
      "q58_w1_word2vec_topk",
      (s, d) => {
        val feats = UserSimilarity.word2vecFeatures(
          UserSimilarity.userDocs(t(s, d, "events")))
        UserSimilarity.topKSimilar(feats, col("user_id") < 30, "w2v_norm")
          .orderBy(col("query_user"), col("rn"))
      },
      None, companion = Some("q94_w2v_topk_invariants")),

    // ---- W2 rating-matrix build (G1+A2 of COMP5349_2.py:196-197) —
    // relational, oracle-checked.
    GraftQuery(
      "q52_w2_interactions",
      (s, d) => MentionRecommender.interactions(t(s, d, "events"))
        .orderBy(col("user_id"), col("item")),
      Some("""SELECT user_id, CAST(props->>'k' AS INTEGER) AS item, count(*) AS y
              FROM events WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL
              GROUP BY 1, 2 ORDER BY user_id, item""")),

    // ---- PageRank over the W2 mention graph (graft.ops.Graph — scale
    // rationale there): user→item edges from the interaction build,
    // namespaced so the two id spaces can't collide, 3 fixed iterations
    // with proper dangling-mass redistribution. Every node's rank is
    // emitted (no top-k cut — near-equal float ranks must not decide
    // row membership), rounded 6dp; the oracle unrolls the identical
    // three iterations in SQL, teleport, dangling term and all, so an
    // off-by-one in the iteration structure is a hash mismatch.
    GraftQuery(
      "q134_pagerank",
      (s, d) => {
        val inter = MentionRecommender.interactions(t(s, d, "events"))
        val edges = inter.select(
          concat(lit("u:"), col("user_id")).as("src"),
          concat(lit("i:"), col("item")).as("dst"))
        graft.ops.Graph.pageRank(edges, iters = 3)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy(col("node"))
      },
      Some {
        def iter(k: Int, prev: String): String =
          s"""d$k AS (SELECT coalesce(sum(r.rank), 0) AS dsum FROM $prev r
                      LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
              c$k AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS in_sum
                      FROM $prev r JOIN outdeg o ON r.node = o.src
                      JOIN e ON e.src = r.node GROUP BY 1),
              r$k AS (SELECT nd.node,
                             0.15 / (SELECT n FROM nn)
                               + 0.85 * (coalesce(c$k.in_sum, 0)
                                         + (SELECT dsum FROM d$k) / (SELECT n FROM nn)) AS rank
                      FROM nodes nd LEFT JOIN c$k ON nd.node = c$k.node)"""
        s"""WITH e AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                              'i:' || CAST(props->>'k' AS VARCHAR) AS dst
                       FROM events
                       WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
            r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            ${iter(1, "r0")},
            ${iter(2, "r1")},
            ${iter(3, "r2")}
            SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node"""
      }),

    // ---- edge-weighted PageRank over the mention graph, weight =
    // interaction count (Graph.weightedPageRank — mass splits ∝ how
    // often the user mentioned the item, not uniformly across items
    // touched once): same three unrolled iterations as q134, with the
    // oracle's 1/deg contribution replaced by w/Σw. Where q134 asks
    // "how central", this asks "how central, counting intensity" — on
    // the same graph the two rankings measurably differ, which is the
    // point of registering both.
    GraftQuery(
      "q143_weighted_pagerank",
      (s, d) => {
        val inter = MentionRecommender.interactions(t(s, d, "events"))
        val edges = inter.select(
          concat(lit("u:"), col("user_id")).as("src"),
          concat(lit("i:"), col("item")).as("dst"),
          col("y").cast("double").as("weight"))
        graft.ops.Graph.weightedPageRank(edges, iters = 3)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy(col("node"))
      },
      Some {
        def iter(k: Int, prev: String): String =
          s"""d$k AS (SELECT coalesce(sum(r.rank), 0) AS dsum FROM $prev r
                      LEFT JOIN outw o ON r.node = o.src WHERE o.src IS NULL),
              c$k AS (SELECT e.dst AS node, sum(r.rank * e.w / o.wout) AS in_sum
                      FROM $prev r JOIN outw o ON r.node = o.src
                      JOIN e ON e.src = r.node GROUP BY 1),
              r$k AS (SELECT nd.node,
                             0.15 / (SELECT n FROM nn)
                               + 0.85 * (coalesce(c$k.in_sum, 0)
                                         + (SELECT dsum FROM d$k) / (SELECT n FROM nn)) AS rank
                      FROM nodes nd LEFT JOIN c$k ON nd.node = c$k.node)"""
        s"""WITH e AS (SELECT 'u:' || CAST(user_id AS VARCHAR) AS src,
                              'i:' || CAST(props->>'k' AS VARCHAR) AS dst,
                              CAST(count(*) AS DOUBLE) AS w
                       FROM events
                       WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL
                       GROUP BY 1, 2),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            outw AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
            r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            ${iter(1, "r0")},
            ${iter(2, "r1")},
            ${iter(3, "r2")}
            SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node"""
      }),

    // ---- personalized PageRank over the same mention graph
    // (Graph.personalizedPageRank — topic-sensitive teleport to a seed
    // set, the "related to these users" ranking): seeds are users
    // {0, 1, 2} present in the graph (isin — literally the oracle's
    // IN ('u:0','u:1','u:2') set), teleport uniform over them,
    // dangling mass redistributed over the SEED distribution (so
    // seed-unreachable nodes decay to exactly 0 — structurally
    // different output from q134's uniform teleport, which keeps every
    // node positive). Oracle unrolls the same three iterations with
    // the per-node teleport term swapped in.
    GraftQuery(
      "q141_personalized_pagerank",
      (s, d) => {
        val inter = MentionRecommender.interactions(t(s, d, "events"))
        val edges = inter.select(
          concat(lit("u:"), col("user_id")).as("src"),
          concat(lit("i:"), col("item")).as("dst"))
        val seeds = inter.filter(col("user_id").isin(0, 1, 2))
          .select(concat(lit("u:"), col("user_id")).as("node")).distinct()
        graft.ops.Graph.personalizedPageRank(edges, iters = 3, seeds = seeds)
          .select(col("node"), round(col("rank"), 6).as("rank"))
          .orderBy(col("node"))
      },
      Some {
        def iter(k: Int, prev: String): String =
          s"""d$k AS (SELECT coalesce(sum(r.rank), 0) AS dsum FROM $prev r
                      LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
              c$k AS (SELECT e.dst AS node, sum(r.rank / o.deg) AS in_sum
                      FROM $prev r JOIN outdeg o ON r.node = o.src
                      JOIN e ON e.src = r.node GROUP BY 1),
              r$k AS (SELECT t.node,
                             0.15 * t.tele
                               + 0.85 * (coalesce(c$k.in_sum, 0)
                                         + (SELECT dsum FROM d$k) * t.tele) AS rank
                      FROM tele t LEFT JOIN c$k ON t.node = c$k.node)"""
        s"""WITH e AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                              'i:' || CAST(props->>'k' AS VARCHAR) AS dst
                       FROM events
                       WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            sk AS (SELECT CAST(count(DISTINCT src) AS DOUBLE) AS k FROM e
                   WHERE src IN ('u:0', 'u:1', 'u:2')),
            tele AS (SELECT node,
                            CASE WHEN node IN ('u:0', 'u:1', 'u:2')
                                 THEN 1.0 / (SELECT k FROM sk) ELSE 0.0 END AS tele
                     FROM nodes),
            outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY 1),
            r0 AS (SELECT node, tele AS rank FROM tele),
            ${iter(1, "r0")},
            ${iter(2, "r1")},
            ${iter(3, "r2")}
            SELECT node, round(rank, 6) AS rank FROM r3 ORDER BY node"""
      }),

    // ---- triangles + local clustering over the co-engagement graph
    // (Graph.triangleStats — degree-ordered "forward" enumeration,
    // O(m^1.5) wedges regardless of hubs; rationale there): users are
    // adjacent when they touched the SAME item within the SAME hour —
    // temporally-correlated affinity, not mere shared taste. The
    // composite (item, hour) blocking key bounds each block at
    // concurrent-users size (item alone would put every item's full
    // user base in one block — 26M pair intermediates at sf0.1 on this
    // 100-item domain), and the shared capped builder (coEdges /
    // Graph.coActivityEdges; CoActivityCap rationale above) bounds
    // what a DENSIFYING corpus does to those blocks — the r18 10×
    // rehearsal measured 101× edge growth uncapped, 138× runtime here.
    // The oracle recounts triangles with the plain id-ordered 3-way
    // join — a different enumeration order than the degree-ordered
    // library path, forced to land on identical per-node counts.
    GraftQuery(
      "q135_triangles",
      (s, d) => graft.ops.Graph.triangleStats(coEdges(s, d)).orderBy(col("node")),
      Some(s"""WITH ${coEdgeSql()},
              deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
                        (SELECT u1 AS node FROM e UNION ALL SELECT u2 FROM e)
                      GROUP BY 1),
              tri AS (SELECT ab.u1 AS x, ab.u2 AS y, bc.u2 AS z
                      FROM e ab JOIN e bc ON ab.u2 = bc.u1
                      JOIN e ac ON ac.u1 = ab.u1 AND ac.u2 = bc.u2),
              pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM
                       (SELECT x AS node FROM tri
                        UNION ALL SELECT y FROM tri
                        UNION ALL SELECT z FROM tri) GROUP BY 1)
              SELECT d.node, d.degree,
                     CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
                     CASE WHEN d.degree >= 2
                          THEN round(2.0 * coalesce(pn.n_triangles, 0)
                                     / (d.degree * (d.degree - 1)), 6)
                          END AS clustering
              FROM deg d LEFT JOIN pn USING (node) ORDER BY d.node""")),

    // ---- what the co-engagement concurrency cap costs (the q101/q184
    // telemetry convention): one row of full vs capped pair volume
    // from the block-occupancy histogram alone — |blocks| input rows,
    // pure integer arithmetic, no pair materialization. On today's
    // fixtures n_blocks_capped = 0 and dropped = 0 (the cap is
    // invisible until blocks densify past it); on a densified corpus
    // this is the monitored recall-vs-cost number for the whole graph
    // family, not a silent filter.
    GraftQuery(
      "q277_coactivity_cap_telemetry",
      (s, d) => graft.ops.Graph.coActivityCapTelemetry(
        coActivity(s, d), col("blk"), col("u"), CoActivityCap),
      Some(s"""WITH $coActivitySqlCte,
              b AS (SELECT blk, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1)
              SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                     CAST(sum(CASE WHEN n > $CoActivityCap THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_blocks_capped,
                     CAST(max(n) AS BIGINT) AS max_block_users,
                     CAST(sum(n * (n - 1) // 2) AS BIGINT) AS n_pairs_full,
                     CAST(sum(CASE WHEN n <= $CoActivityCap THEN n * (n - 1) // 2
                              ELSE ${CoActivityCap.toLong * (CoActivityCap - 1) / 2} END)
                       AS BIGINT) AS n_pairs_capped,
                     CAST(sum(n * (n - 1) // 2)
                          - sum(CASE WHEN n <= $CoActivityCap THEN n * (n - 1) // 2
                                ELSE ${CoActivityCap.toLong * (CoActivityCap - 1) / 2} END)
                       AS BIGINT) AS n_pairs_dropped
              FROM b""")),

    // ---- 3-core of the co-engagement graph (Graph.kCore — bounded
    // synchronous peeling: drop degree<3 nodes in rounds, 4 rounds
    // here): the "dense enough to matter" membership filter next to
    // q135's triangles and q138's communities — drive-by co-engagement
    // edges peel away, the stable cohort survives with its core-subgraph
    // degrees. Oracle unrolls the identical four peels; each surviving
    // edge frame is MATERIALIZED (the q140 lesson — DuckDB re-inlines
    // twice-referenced chain links 2^k times otherwise).
    GraftQuery(
      "q144_kcore",
      (s, d) => graft.ops.Graph.kCore(coEdges(s, d), k = 3, maxRounds = 4)
        .orderBy(col("node")),
      Some {
        def peel(r: Int, prev: String): String =
          s"""d$r AS (SELECT node, count(*) AS degree FROM
                        (SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
                      GROUP BY 1),
              k$r AS (SELECT node FROM d$r WHERE degree >= 3),
              e$r AS MATERIALIZED (SELECT p.a, p.b FROM $prev p
                                   JOIN k$r ka ON p.a = ka.node
                                   JOIN k$r kb ON p.b = kb.node)"""
        s"""WITH ${coEdgeSql()},
            e0 AS MATERIALIZED (SELECT u1 AS a, u2 AS b FROM e),
            ${peel(1, "e0")},
            ${peel(2, "e1")},
            ${peel(3, "e2")},
            ${peel(4, "e3")}
            SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
              (SELECT a AS node FROM e4 UNION ALL SELECT b FROM e4)
            GROUP BY 1 ORDER BY node"""
      }),

    // ---- label-propagation communities over the same co-engagement
    // graph as q135 (Graph.labelPropagation — synchronous, min-label
    // ties, fixed 3 rounds; rationale there): where connected
    // components answer "touching at all?", the majority vote splits a
    // component into its dense social clusters. Emitted per node with
    // the community size joined on; the oracle unrolls the identical
    // three rounds (count → row_number argmax) in SQL.
    GraftQuery(
      "q138_label_propagation",
      (s, d) => {
        val labels = graft.ops.Graph.labelPropagation(coEdges(s, d), iters = 3)
        labels.join(
            labels.groupBy(col("label")).agg(count(lit(1)).as("community_size")),
            "label")
          .select(col("node"), col("label"), col("community_size"))
          .orderBy(col("node"))
      },
      Some {
        def round(k: Int, prev: String): String =
          s"""c$k AS (SELECT u.src AS node, l.label, count(*) AS cnt
                      FROM und u JOIN $prev l ON u.dst = l.node GROUP BY 1, 2),
              l$k AS (SELECT node, label FROM
                        (SELECT node, label, row_number() OVER (PARTITION BY node
                           ORDER BY cnt DESC, label) AS rn FROM c$k)
                      WHERE rn = 1)"""
        s"""WITH ${coEdgeSql()},
            und AS (SELECT u1 AS src, u2 AS dst FROM e
                    UNION ALL SELECT u2, u1 FROM e),
            l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
            ${round(1, "l0")},
            ${round(2, "l1")},
            ${round(3, "l2")}
            SELECT l3.node, l3.label, cs.community_size
            FROM l3 JOIN (SELECT label, CAST(count(*) AS BIGINT) AS community_size
                          FROM l3 GROUP BY 1) cs USING (label)
            ORDER BY l3.node"""
      }),

    // ---- the graph module composed (the q137 pattern for this
    // family): ONE co-engagement edge build, cached, feeds all four
    // algorithms — undirected PageRank (both orientations), label
    // propagation, 3-core membership, triangle/clustering stats —
    // joined into a per-node profile. This is how a real feature
    // pipeline consumes the module (the edge build is the corpus-scale
    // cost; the algorithms are graph-sized and amortize it), and the
    // oracle recomputes the whole profile independently: any drift in
    // ANY of the four, or in how they compose on the shared frame, is
    // a hash mismatch. Depths are 2 rounds each — composition proof,
    // not convergence.
    GraftQuery(
      "q145_graph_profile",
      (s, d) => {
        // capped shared builder (already distinct) — dedup once, cache
        // once, all consumers' internal distincts are no-ops on it
        val edges = coEdges(s, d).cache()
        // materialize the shared frame BEFORE forking so the concurrent
        // consumers hit the cache instead of racing to fill it
        edges.count()
        val und = edges.select(col("u1").as("src"), col("u2").as("dst"))
          .union(edges.select(col("u2").as("src"), col("u1").as("dst")))
        // The five profile components are INDEPENDENT given the cached
        // edge frame, and each is latency-bound, not data-bound (~10
        // small driver-sequential jobs per iterative algorithm:
        // per-round joins, eager checkpoints, convergence counts —
        // measured r13: lazy rounds change nothing because the floor
        // is round-trip count, not materialization). So build them on
        // CONCURRENT driver threads: Spark's scheduler interleaves the
        // small jobs and the scheduling waits overlap instead of
        // summing (r19 measured: 15.4s sequential → 9.4s isolated
        // min-of-5; hashes unchanged — same per-algorithm arithmetic,
        // only submission order differs). This is also the cluster
        // shape: a profile pipeline fans independent graph jobs out
        // against one shared edge build, it doesn't queue them.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val prF = Future(graft.ops.Graph.pageRank(und, iters = 2)
          .select(col("node"), round(col("rank"), 6).as("rank")))
        val lpaF = Future(graft.ops.Graph.labelPropagation(edges, iters = 2))
        val coreF = Future(graft.ops.Graph.kCore(edges, k = 3, maxRounds = 2)
          .select(col("node"), lit(true).as("in_3core")))
        // components via the Graph-module API (the Dedup loop's
        // first-class graph face) — every profiled node has an edge,
        // so the join is total
        val ccF = Future(graft.ops.Graph.connectedComponents(edges))
        // triangleStats is the one NON-iterative component — returned
        // lazily it would execute during the final write, sequential
        // with nothing; the eager checkpoint materializes it inside the
        // overlap window instead (values unchanged)
        val triF = Future(graft.ops.Graph.triangleStats(edges).localCheckpoint(true))
        // quiesce ALL chains before extracting any result: if one fails,
        // the others' CC/PageRank loop jobs must not keep running
        // orphaned after the query throws (the r21-ADVICE q299 exposure;
        // Await.ready only waits, it doesn't throw the future's failure)
        Seq(prF, lpaF, coreF, ccF, triF)
          .foreach(f => Await.ready(f, Duration.Inf): Unit)
        val pr = Await.result(prF, Duration.Inf)
        val lpa = Await.result(lpaF, Duration.Inf)
        val lsz = lpa.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
        val core = Await.result(coreF, Duration.Inf)
        val cc = Await.result(ccF, Duration.Inf)
        Await.result(triF, Duration.Inf)
          .join(pr, "node")
          .join(lpa, "node").join(lsz, "label")
          .join(core, Seq("node"), "left")
          .join(cc, "node")
          .select(col("node"), col("degree"), col("n_triangles"),
            col("clustering"), col("rank"), col("label"),
            col("community_size"),
            coalesce(col("in_3core"), lit(false)).as("in_3core"),
            col("component"))
          .orderBy(col("node"))
      },
      Some {
        def prIter(k: Int, prev: String): String =
          s"""d$k AS (SELECT coalesce(sum(r.rank), 0) AS dsum FROM $prev r
                      LEFT JOIN outdeg o ON r.node = o.src WHERE o.src IS NULL),
              c$k AS (SELECT u.dst AS node, sum(r.rank / o.deg) AS in_sum
                      FROM $prev r JOIN outdeg o ON r.node = o.src
                      JOIN und u ON u.src = r.node GROUP BY 1),
              r$k AS (SELECT nd.node,
                             0.15 / (SELECT n FROM nn)
                               + 0.85 * (coalesce(c$k.in_sum, 0)
                                         + (SELECT dsum FROM d$k) / (SELECT n FROM nn)) AS rank
                      FROM nodes nd LEFT JOIN c$k ON nd.node = c$k.node)"""
        def lpaRound(k: Int, prev: String): String =
          s"""lc$k AS (SELECT u.src AS node, l.label, count(*) AS cnt
                       FROM und u JOIN $prev l ON u.dst = l.node GROUP BY 1, 2),
              l$k AS MATERIALIZED (SELECT node, label FROM
                        (SELECT node, label, row_number() OVER (PARTITION BY node
                           ORDER BY cnt DESC, label) AS rn FROM lc$k)
                      WHERE rn = 1)"""
        def peel(r: Int, prev: String): String =
          s"""kd$r AS (SELECT node, count(*) AS degree FROM
                         (SELECT a AS node FROM $prev UNION ALL SELECT b FROM $prev)
                       GROUP BY 1),
              kk$r AS (SELECT node FROM kd$r WHERE degree >= 3),
              ke$r AS MATERIALIZED (SELECT p.a, p.b FROM $prev p
                                    JOIN kk$r ka ON p.a = ka.node
                                    JOIN kk$r kb ON p.b = kb.node)"""
        s"""WITH ${coEdgeSql(eMat = true, eName = "ce")},
            e AS (SELECT u1 AS a, u2 AS b FROM ce),
            und AS MATERIALIZED (SELECT a AS src, b AS dst FROM e
                                 UNION ALL SELECT b, a FROM e),
            -- transitive closure scoped INSIDE this one CTE: a
            -- clause-level WITH RECURSIVE flips how DuckDB evaluates the
            -- sibling non-recursive CTEs (observed: the r2 pagerank
            -- frame fans out 150 -> 2608 rows under it)
            comp AS (
              WITH RECURSIVE reach(node, r) AS (
                SELECT DISTINCT src, src FROM und
                UNION
                SELECT u.dst, reach.r FROM reach JOIN und u ON u.src = reach.node)
              SELECT node, min(r) AS component FROM reach GROUP BY 1),
            deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM
                      (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                    GROUP BY 1),
            nodes AS (SELECT src AS node FROM und UNION SELECT dst FROM und),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            outdeg AS (SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM und GROUP BY 1),
            r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
            ${prIter(1, "r0")},
            ${prIter(2, "r1")},
            l0 AS (SELECT node, node AS label FROM nodes),
            ${lpaRound(1, "l0")},
            ${lpaRound(2, "l1")},
            lsz AS (SELECT label, CAST(count(*) AS BIGINT) AS community_size
                    FROM l2 GROUP BY 1),
            ${peel(1, "e")},
            ${peel(2, "ke1")},
            core AS (SELECT DISTINCT node FROM
                       (SELECT a AS node FROM ke2 UNION ALL SELECT b FROM ke2)),
            tri AS (SELECT ab.u1 AS x, ab.u2 AS y, bc.u2 AS z
                    FROM (SELECT a AS u1, b AS u2 FROM e) ab
                    JOIN (SELECT a AS u1, b AS u2 FROM e) bc ON ab.u2 = bc.u1
                    JOIN (SELECT a AS u1, b AS u2 FROM e) ac
                      ON ac.u1 = ab.u1 AND ac.u2 = bc.u2),
            pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM
                     (SELECT x AS node FROM tri
                      UNION ALL SELECT y FROM tri
                      UNION ALL SELECT z FROM tri) GROUP BY 1)
            SELECT d.node, d.degree,
                   CAST(coalesce(pn.n_triangles, 0) AS BIGINT) AS n_triangles,
                   CASE WHEN d.degree >= 2
                        THEN round(2.0 * coalesce(pn.n_triangles, 0)
                                   / (d.degree * (d.degree - 1)), 6)
                        END AS clustering,
                   round(r2.rank, 6) AS rank,
                   l2.label, lsz.community_size,
                   (core.node IS NOT NULL) AS in_3core,
                   comp.component
            FROM deg d
            JOIN r2 ON d.node = r2.node
            JOIN l2 ON d.node = l2.node
            JOIN lsz ON l2.label = lsz.label
            LEFT JOIN pn ON d.node = pn.node
            LEFT JOIN core ON d.node = core.node
            JOIN comp ON d.node = comp.node
            ORDER BY d.node"""
      }),

    // ---- W2 ALS top-5 (M6+M7; reference params, seed 0). Float factors
    // aren't oracle-expressible; invariants in ALSSpec.
    GraftQuery(
      "q53_w2_als_top5",
      // numBlocks=4 is the local[32] bench setting only; the operator
      // default keeps Spark's own block count for cluster runs
      (s, d) => MentionRecommender.recommend(t(s, d, "events"), k = 5, numBlocks = 4),
      None, companion = Some("q76_als_invariants")),

    // ---- M7's item side: recommendForItemSubset — top-5 users per
    // observed item from the SAME fitted model (the surface the
    // reference leaves unused, COMP5349_2.py:206-208). Float ratings
    // aren't oracle-expressible; invariants in q276's companion +
    // ALSSpec.
    GraftQuery(
      "q275_w2_als_item_top5",
      (s, d) => MentionRecommender.recommendItems(t(s, d, "events"), k = 5, numBlocks = 4),
      None, companion = Some("q276_als_item_invariants")),

    // ---- Streaming transform run on the batch frame (unified path;
    // the readStream variant of the same function is exercised in
    // StreamingSpec). Oracle = plain SQL over the same window arithmetic.
    GraftQuery(
      "q56_stream_hourly",
      (s, d) => EventStreams.hourlyByType(t(s, d, "events"))
        .select(date_format(col("hour"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("hour"), col("event_type")),
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
              event_type, count(*) AS n, round(sum(value), 2) AS total_value
              FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    // ---- Sliding (hopping) windows on the batch frame (the q56
    // pattern: same function drives readStream — watermark applies only
    // there). Every event lands in exactly windowLen/hop = 4 windows
    // whose starts are the four 15-min marks at or before ts; the
    // oracle materializes that membership arithmetic directly
    // (hop-aligned epoch minus k·900s, k in 0..3) — any disagreement in
    // Spark's window expansion is a hash mismatch.
    GraftQuery(
      "q147_sliding_window",
      (s, d) => EventStreams.slidingByType(t(s, d, "events"))
        .select(date_format(col("win_start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
          col("event_type"), col("n"), col("total_value"))
        .orderBy(col("win_start"), col("event_type")),
      Some("""SELECT strftime(make_timestamp((hs - k*900) * 1000000), '%Y-%m-%d %H:%M:%S') AS win_start,
                     event_type, count(*) AS n, round(sum(value), 2) AS total_value
              FROM (SELECT event_type, value,
                           CAST(floor(epoch(ts) / 900) AS BIGINT) * 900 AS hs,
                           unnest(range(0, 4)) AS k
                    FROM events)
              GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // ---- The stream-stream interval join on its batch twin (the
    // streaming variant with watermark-bounded state is specced in
    // StreamingSpec; same function, same semantics).
    GraftQuery(
      "q57_purchase_attribution",
      (s, d) => EventStreams.purchaseAttribution(t(s, d, "events"))
        .select(col("purchase_id"), col("user_id"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_s"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_s"),
          col("value"))
        .orderBy(col("purchase_id"), col("click_s")),
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
              strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_s,
              strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_s,
              p.value
              FROM (SELECT * FROM events WHERE event_type = 'purchase') p
              JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON c.user_id = p.user_id
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
              ORDER BY purchase_id, click_s""")),

    // ---- q57's LEFT-OUTER face (batch; the streaming null-emission
    // path — watermark-proved no-match — is pinned in StreamingSpec
    // with the per-side-watermark idle caveat): every purchase emits,
    // organic ones with a null click — the conversion-vs-organic split
    // the inner join silently drops. Null click_s rows are exactly the
    // purchases absent from q57.
    GraftQuery(
      "q177_attribution_outer",
      (s, d) => EventStreams.purchaseAttributionOuter(t(s, d, "events"))
        .select(col("purchase_id"), col("user_id"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_s"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_s"),
          col("value"))
        .orderBy(col("purchase_id"), col("click_s")),
      Some("""SELECT p.event_id AS purchase_id, p.user_id,
              strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_s,
              strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_s,
              p.value
              FROM (SELECT * FROM events WHERE event_type = 'purchase') p
              LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
                ON c.user_id = p.user_id
               AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
              ORDER BY purchase_id, click_s""")),

    // ---- Session windows on the batch frame (the streaming variant is
    // specced in StreamingSpec). The oracle is the classic
    // gaps-and-islands rewrite: a session breaks on a >= 30-min gap,
    // session end = last event + gap — exactly session_window's
    // [start, last + gap) semantics.
    GraftQuery(
      "q68_sessions",
      (s, d) => EventStreams.sessionize(t(s, d, "events"))
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("session_value"))
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH s AS (SELECT user_id, ts, value,
                     CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                            OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_s
                   FROM events),
              g AS (SELECT user_id, ts, value,
                           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
                    FROM s)
              SELECT user_id,
                     strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
                     strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
                     CAST(count(*) AS BIGINT) AS n_events,
                     round(sum(value), 2) AS session_value
              FROM g GROUP BY user_id, sid
              ORDER BY user_id NULLS FIRST, session_start""")),

    // ---- The custom stateful operator (flatMapGroupsWithState) on its
    // batch twin: in batch mode every group passes through the state
    // function once, so the running totals equal the plain aggregate —
    // which is exactly what makes the stateful path oracle-checkable.
    GraftQuery(
      "q75_running_totals",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val events = t(s, d, "events")
          .selectExpr("event_id", "user_id", "event_type", "value")
          .as[EventStreams.EventRow]
        EventStreams.runningTotals(events).toDF()
          .select(col("user_id"), col("n_events"),
            round(col("total_value"), 2).as("total_value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
              round(sum(value), 2) AS total_value
              FROM events GROUP BY user_id ORDER BY user_id""")),

    // ---- the EventTimeTimeout stateful operator on its batch twin
    // (q75 covers NoTimeout): gap-sessionization + in-session dependent
    // view→click→purchase funnel, emitted per closed session. The
    // oracle rebuilds sessions with the lag/cumsum window idiom (RANGE
    // frame, so same-timestamp ties share one running value) and the
    // funnel with the q47-style dependent-min chain. Session bounds are
    // epoch MICROS — exact longs on both engines. Stream==batch parity
    // for the same operator on an out-of-order feed is pinned in
    // StreamingSpec.
    GraftQuery(
      "q166_session_funnels",
      (s, d) => EventStreams.sessionFunnels(t(s, d, "events"), gapMinutes = 60)
        .toDF()
        .orderBy(col("user_id"), col("session_start")),
      Some("""WITH o AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
              b AS (SELECT user_id, us, event_type,
                     CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                            > 3600000000 THEN 1 ELSE 0 END AS brk
                    FROM o),
              g AS (SELECT user_id, us, event_type,
                           sum(brk) OVER (PARTITION BY user_id ORDER BY us
                             RANGE UNBOUNDED PRECEDING) AS sid
                    FROM b),
              s AS (SELECT user_id, sid, min(us) AS session_start,
                           max(us) AS session_end,
                           CAST(count(*) AS BIGINT) AS n_events,
                           min(us) FILTER (event_type = 'view') AS v
                    FROM g GROUP BY 1, 2),
              c AS (SELECT g.user_id, g.sid, min(g.us) AS c
                    FROM g JOIN s USING (user_id, sid)
                    WHERE g.event_type = 'click' AND g.us >= s.v GROUP BY 1, 2),
              p AS (SELECT g.user_id, g.sid, min(g.us) AS p
                    FROM g JOIN c USING (user_id, sid)
                    WHERE g.event_type = 'purchase' AND g.us >= c.c GROUP BY 1, 2)
              SELECT s.user_id, s.session_start, s.session_end, s.n_events,
                     (p.p IS NOT NULL) AS has_funnel
              FROM s LEFT JOIN p USING (user_id, sid)
              ORDER BY user_id, session_start""")),

    // ---- exactly-once ingest dedup, batch face (the streaming face is
    // dropDuplicatesWithinWatermark — redelivery-dedup with
    // watermark-bounded per-key state, pinned stream==batch in
    // StreamingSpec): the feed is events plus exact redeliveries of the
    // %97 subset; dedup by event_id must reproduce the original table
    // bit-for-bit. Exact copies make the arbitrary-survivor semantics
    // deterministic; ts is compared as epoch micros.
    GraftQuery(
      "q171_exactly_once_dedup",
      (s, d) => {
        val ev = t(s, d, "events")
        val feed = ev.unionAll(ev.filter(col("event_id") % 97 === 0))
        EventStreams.dedupExactlyOnce(feed, Seq("event_id"))
          .select(col("event_id"), unix_micros(col("ts")).as("us"),
            col("user_id"), col("event_type"), col("value"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, epoch_us(ts) AS us, user_id, event_type, value
              FROM events ORDER BY event_id""")),

    // ---- Multimodal inventory: binary payload column + typed metadata,
    // metadata-only projection (never touches the payload at scan time).
    GraftQuery(
      "q54_multimodal_inventory",
      (s, d) => Multimodal.fromDocuments(t(s, d, "documents"))
        .withColumn("checksum", md5(col("content")))
        .drop("content")
        .orderBy(col("media_id")),
      Some("""SELECT doc_id AS media_id,
              ['image','audio','video','text'][CAST(doc_id % 4 AS INTEGER) + 1] AS modality,
              'application/x-fake-' || ['png','wav','mp4','txt'][CAST(doc_id % 4 AS INTEGER) + 1] AS content_type,
              CAST(strlen(text) AS BIGINT) AS n_bytes,
              md5(text) AS checksum
              FROM documents ORDER BY media_id""")),

    // ---- Multimodal feature extraction through the stubbed decoder
    // (real plumbing: binary columns, typed Dataset, partition-parallel
    // batched mapPartitions). The float features are integer-quantized
    // (Multimodal.stubDecode) and emitted as the q39-style ':'-joined
    // string of their 10⁶-scaled integers, so the driver can hash them;
    // the oracle recomputes the byte means in pure integer SQL over the
    // payload. Both sides compute over an explicitly ASCII-sanitized
    // payload (non-ASCII code points -> '?') because the oracle's
    // ascii(substr(...)) walks code points while the Spark side walks
    // UTF-8 bytes — alignment only holds for ASCII, so we pin it rather
    // than assume the corpus stays ASCII. Batch shape and determinism
    // are pinned in MultimodalSpec.
    GraftQuery(
      "q55_multimodal_features",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val asciiDocs = t(s, d, "documents")
          .withColumn("text", regexp_replace(col("text"), "[^\\x00-\\x7F]", "?"))
        val media = Multimodal.fromDocuments(asciiDocs).as[Multimodal.MediaRow]
        Multimodal.extractFeatures(media, dim = 16, batchSize = 64)
          .toDF()
          .select(col("media_id"), col("modality"), col("dim"),
            expr("array_join(transform(features, " +
              "x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS STRING)), ':')")
              .as("features_str"))
          .orderBy(col("media_id"))
      },
      Some("""WITH docs AS (SELECT doc_id, regexp_replace(text, '[^\x00-\x7f]', '?', 'g') AS text FROM documents),
              pos AS (SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i FROM docs),
              b AS (SELECT doc_id, CAST((i - 1) % 16 AS INTEGER) AS j,
                           ascii(substr(text, i, 1)) AS v FROM pos),
              f AS (SELECT doc_id, j, (sum(v) * 1000000) // (count(*) * 256) AS q
                    FROM b GROUP BY 1, 2),
              fx AS (SELECT d.doc_id, t.j, coalesce(f.q, 0) AS q
                     FROM documents d CROSS JOIN range(0, 16) t(j)
                     LEFT JOIN f ON f.doc_id = d.doc_id AND f.j = t.j)
              SELECT doc_id AS media_id,
                     ['image','audio','video','text'][CAST(doc_id % 4 AS INTEGER) + 1] AS modality,
                     16 AS dim,
                     string_agg(CAST(q AS VARCHAR), ':' ORDER BY j) AS features_str
              FROM fx GROUP BY 1, 2, 3 ORDER BY media_id""")),

    // ---- REAL decode, driver-visible (q117's scratch round-trip
    // pattern): deterministic PNG and WAV blobs are GENERATED in code —
    // image m is 16×16 with constant gray 10+60m+40j on horizontal band
    // j; audio m is 256 frames of a ±2048·(1+m+j) square wave on
    // temporal band j — written to a scratch parquet, read back, and
    // pushed through Multimodal.extractFeatures' real decodeImage /
    // decodeAudio dispatch (PNG via javax.imageio, WAV via
    // javax.sound.sampled — no stub on this path). Band j of image m
    // must decode to luma g/255 (BT.601 integer weights on r=g=b are
    // exactly g), band j of audio m to mean |s| = a/32768 (a is a
    // multiple of 2048, so the float is exact: (1+m+j)/16); the oracle
    // recomputes those integers from the same pattern constants in
    // literal SQL — no hardcoded feature values, and every gray was
    // chosen with its 10⁶-scaled fraction ≥ 0.049 from a rounding
    // boundary, an order of magnitude above float32's 0.003 worst-case
    // representation error here, so HALF_UP vs HALF_EVEN cannot
    // diverge. A hash mismatch here means the real decoders changed.
    GraftQuery(
      "q139_multimodal_decode",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val pngs = (0 until 3).map { m =>
          val img = new java.awt.image.BufferedImage(16, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until 16; x <- 0 until 16) {
            val g = 10 + 60 * m + 40 * (y / 4)
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val b = bos.toByteArray
          Multimodal.MediaRow(101L + m, "image", b, "image/png", b.length.toLong)
        }
        val wavs = (0 until 3).map { m =>
          val nFrames = 256
          val pcm = new Array[Byte](nFrames * 2)
          for (i <- 0 until nFrames) {
            val a = 2048 * (1 + m + i / 64)
            val v = (if (i % 2 == 0) a else -a).toShort
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          val b = bos.toByteArray
          Multimodal.MediaRow(201L + m, "audio", b, "audio/x-wav", b.length.toLong)
        }
        val scratch = Scratch.dir("q139", d)
        (pngs ++ wavs).toDS().write.mode("overwrite").parquet(scratch)
        val media = s.read.parquet(scratch).as[Multimodal.MediaRow]
        Multimodal.extractFeatures(media, dim = 4, batchSize = 8).toDF()
          .select(col("media_id"), col("modality"), col("dim"),
            expr("array_join(transform(features, " +
              "x -> CAST(CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS STRING)), ':')")
              .as("features_str"))
          .orderBy(col("media_id"))
      },
      Some("""WITH img AS (SELECT m, j, 10 + 60*m + 40*j AS g
                           FROM range(0,3) t1(m) CROSS JOIN range(0,4) t2(j)),
                   aud AS (SELECT m, j, (1 + m + j) * 62500 AS q
                           FROM range(0,3) t1(m) CROSS JOIN range(0,4) t2(j)),
                   allq AS (SELECT 101 + m AS media_id, 'image' AS modality, j,
                                   CAST(round(g * 1000000.0 / 255) AS BIGINT) AS q
                            FROM img
                            UNION ALL
                            SELECT 201 + m, 'audio', j, CAST(q AS BIGINT) FROM aud)
              SELECT media_id, modality, 4 AS dim,
                     string_agg(CAST(q AS VARCHAR), ':' ORDER BY j) AS features_str
              FROM allq GROUP BY 1, 2 ORDER BY media_id""")),

    // ---- perceptual image dedup over REAL decodes (the q139
    // generated-blob discipline): six PNGs — three column-band
    // structures × two brightness levels — round-trip scratch parquet,
    // decode through javax.imageio, and hash with the 64-bit
    // average-hash (Multimodal.aHashBits: bit = cell mean luma above
    // the image mean, exact integer cross-multiplication). The
    // brightness-shifted re-encode of each structure must collide at
    // hamming 0 (aHash's invariance class — the mean shifts with the
    // cells) while distinct structures sit at hamming 32, so the ≤8
    // gate keeps EXACTLY the three re-encode pairs. The oracle
    // recomputes the hashes from the pattern constants in literal SQL
    // (uniform rows ⇒ bit(cx) ⟺ 8·g(cx) > Σg, repeated 8 rows) — a
    // hash mismatch means the real decoder or the hash changed. Pair
    // generation here is the tiny all-pairs audit; the corpus-scale
    // path is banding on a 16-char hash substring (q153/q37 shape).
    GraftQuery(
      "q307_image_ahash_dedup",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val profiles = Seq(
          Seq(10, 90, 10, 90, 10, 90, 10, 90),
          Seq(10, 10, 90, 90, 10, 10, 90, 90),
          Seq(10, 10, 10, 10, 90, 90, 90, 90))
        val pngs = (0 until 6).map { m =>
          val img = new java.awt.image.BufferedImage(16, 16,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          for (y <- 0 until 16; x <- 0 until 16) {
            val g = profiles(m % 3)(x / 2) + 5 * (m / 3)
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val b = bos.toByteArray
          Multimodal.MediaRow(101L + m, "image", b, "image/png", b.length.toLong)
        }
        val scratch = Scratch.dir("q307", d)
        pngs.toDS().write.mode("overwrite").parquet(scratch)
        val hashes = s.read.parquet(scratch).as[Multimodal.MediaRow]
          .map(r => (r.media_id, Multimodal.aHashBits(r.content).getOrElse("")))
          .toDF("media_id", "ahash")
        hashes.select(col("media_id").as("a"), col("ahash").as("h1"))
          .crossJoin(hashes.select(col("media_id").as("b"), col("ahash").as("h2")))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"),
            expr("CAST(size(filter(sequence(1, 64), " +
              "i -> substring(h1, i, 1) != substring(h2, i, 1))) AS BIGINT)")
              .as("hamming"))
          .filter(col("hamming") <= 8)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH prof AS (SELECT * FROM (VALUES
                     (0, [10,90,10,90,10,90,10,90]),
                     (1, [10,10,90,90,10,10,90,90]),
                     (2, [10,10,10,10,90,90,90,90])) p(s, pr)),
              imgs AS (SELECT 101 + m AS media_id, CAST(m % 3 AS INTEGER) AS s,
                              (m // 3) * 5 AS bshift
                       FROM range(0, 6) t(m)),
              cells AS (SELECT media_id, cx, pr[CAST(cx AS INTEGER) + 1] + bshift AS g
                        FROM imgs JOIN prof USING (s) CROSS JOIN range(0, 8) t2(cx)),
              stats AS (SELECT media_id, CAST(sum(g) AS BIGINT) AS sg
                        FROM cells GROUP BY 1),
              rowbits AS (SELECT c.media_id,
                                 string_agg(CASE WHEN 8 * g > sg THEN '1' ELSE '0' END,
                                            '' ORDER BY cx) AS rb
                          FROM cells c JOIN stats USING (media_id) GROUP BY 1),
              hashes AS (SELECT media_id, repeat(rb, 8) AS ahash FROM rowbits)
              SELECT a, b, hamming FROM
                (SELECT x.media_id AS a, y.media_id AS b,
                        CAST(len(list_filter(range(1, 65),
                          i -> x.ahash[CAST(i AS INTEGER)] != y.ahash[CAST(i AS INTEGER)]))
                          AS BIGINT) AS hamming
                 FROM hashes x JOIN hashes y ON x.media_id < y.media_id)
              WHERE hamming <= 8 ORDER BY a, b""")),

    // ---- audio-fingerprint dedup over REAL decodes — q307's twin for
    // the audio modality: six WAVs (three band-energy profiles × two
    // volumes) through javax.sound, fingerprinted by
    // Multimodal.audioFingerprint (bit i = band i+1's mean |amplitude|
    // above band i's, exact integer cross-multiplication). The ×2
    // volume re-encode scales every band's energy equally, so its
    // fingerprint is IDENTICAL (hamming 0) while different profiles
    // order their energy differently — the ≤2 gate keeps exactly the
    // three volume pairs. The oracle restates the delta signs straight
    // from the amplitude-profile literals (volume never enters — that
    // IS the invariance); a mismatch means the PCM decoder or the
    // fingerprint changed.
    GraftQuery(
      "q308_audio_fingerprint_dedup",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val profiles = Seq(
          Seq(1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2, 1, 2),
          Seq(1, 1, 2, 2, 1, 1, 2, 2, 1, 1, 2, 2, 1, 1, 2, 2),
          Seq(3, 1, 2, 3, 3, 1, 2, 3, 3, 1, 2, 3, 3, 1, 2, 3))
        val wavs = (0 until 6).map { m =>
          val nFrames = 512 // 32 frames per temporal band
          val vol = 1 + m / 3
          val pcm = new Array[Byte](nFrames * 2)
          for (i <- 0 until nFrames) {
            val a = profiles(m % 3)(i * 16 / nFrames) * 1024 * vol
            val v = (if (i % 2 == 0) a else -a).toShort
            pcm(2 * i) = (v & 0xff).toByte
            pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          val b = bos.toByteArray
          Multimodal.MediaRow(301L + m, "audio", b, "audio/x-wav", b.length.toLong)
        }
        val scratch = Scratch.dir("q308", d)
        wavs.toDS().write.mode("overwrite").parquet(scratch)
        val fps = s.read.parquet(scratch).as[Multimodal.MediaRow]
          .map(r => (r.media_id, Multimodal.audioFingerprint(r.content).getOrElse("")))
          .toDF("media_id", "fp")
        fps.select(col("media_id").as("a"), col("fp").as("f1"))
          .crossJoin(fps.select(col("media_id").as("b"), col("fp").as("f2")))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b"),
            expr("CAST(size(filter(sequence(1, 15), " +
              "i -> substring(f1, i, 1) != substring(f2, i, 1))) AS BIGINT)")
              .as("hamming"))
          .filter(col("hamming") <= 2)
          .orderBy(col("a"), col("b"))
      },
      Some("""WITH prof AS (SELECT * FROM (VALUES
                     (0, [1,2,1,2,1,2,1,2,1,2,1,2,1,2,1,2]),
                     (1, [1,1,2,2,1,1,2,2,1,1,2,2,1,1,2,2]),
                     (2, [3,1,2,3,3,1,2,3,3,1,2,3,3,1,2,3])) p(s, pr)),
              snds AS (SELECT 301 + m AS media_id, CAST(m % 3 AS INTEGER) AS s
                       FROM range(0, 6) t(m)),
              fps AS (SELECT media_id,
                             string_agg(CASE WHEN pr[CAST(i AS INTEGER) + 2]
                                                  > pr[CAST(i AS INTEGER) + 1]
                                             THEN '1' ELSE '0' END, '' ORDER BY i) AS fp
                      FROM snds JOIN prof USING (s) CROSS JOIN range(0, 15) t2(i)
                      GROUP BY 1)
              SELECT a, b, hamming FROM
                (SELECT x.media_id AS a, y.media_id AS b,
                        CAST(len(list_filter(range(1, 16),
                          i -> x.fp[CAST(i AS INTEGER)] != y.fp[CAST(i AS INTEGER)]))
                          AS BIGINT) AS hamming
                 FROM fps x JOIN fps y ON x.media_id < y.media_id)
              WHERE hamming <= 2 ORDER BY a, b""")),

    // ---- model-based quality filter (graft.pipelines.QualityClassifier
    // — the fastText/LR distillation stage; scale shape there). Raw
    // probabilities are float model output, so the driver row is the
    // invariant reduction: coverage (every tokenizable doc scored), the
    // weak-label positive count (recomputed independently by the
    // oracle from the q31 feature definitions), probability range, and
    // two quality gates — pred/label agreement ≥ 0.85 (a linear model
    // approximates the sharp two-threshold corner, it cannot carve it
    // exactly) and AUC ≥ 0.9.
    // The AUC evaluate() is a driver-side scalar of a distributed
    // computation (model metrics, not data) — same category as the CC
    // convergence count.
    GraftQuery(
      "q110_quality_classifier",
      (s, d) => {
        val docs = t(s, d, "documents")
        val model = graft.pipelines.QualityClassifier.fit(docs)
        val scoredFull = graft.pipelines.QualityClassifier
          .scoreWithRaw(docs, model).cache()
        val auc = new org.apache.spark.ml.evaluation.BinaryClassificationEvaluator()
          .setLabelCol("label").setRawPredictionCol("probability")
          .setMetricName("areaUnderROC").evaluate(scoredFull)
        scoredFull
          .agg(
            count(lit(1)).as("n_scored"),
            sum(col("label")).cast("long").as("n_pos"),
            (min(col("prob")) >= 0.0 && max(col("prob")) <= 1.0).as("probs_in_range"),
            (avg(when(col("pred") === col("label"), 1.0).otherwise(0.0)) >= 0.85)
              .as("agreement_ok"))
          .withColumn("auc_ok", lit(auc >= 0.9))
      },
      Some(s"""SELECT CAST(count(*) AS BIGINT) AS n_scored,
                      CAST(sum(CASE WHEN n_tokens >= 40 AND stop_ratio <= 0.10
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
                      true AS probs_in_range, true AS agreement_ok, true AS auc_ok
               FROM (SELECT len(w) AS n_tokens,
                            len(list_filter(w, t -> t IN (${TextQueries.stopListSql}))) * 1.0 / len(w) AS stop_ratio
                     FROM (SELECT string_split_regex(trim(text), '\\s+') AS w FROM documents)
                     WHERE len(w) > 0)""")),

    // ---- calibration of a quality score (ops.Calibration — Brier +
    // reliability bins, completing the eval family: q110 fits/scores,
    // q216 ranks, this checks the scores MEAN what they say). The LR
    // model's probabilities are float model output (not oracle-
    // replayable — QualityClassifierSpec calibrates those through the
    // same op), so the HASH-CHECKED face runs the full calibration
    // machinery over a deterministic RATIONAL score: the heuristic
    // quality prob p = (min(n_tokens,80)/80)·(1 − min(4·stop_ratio,1))
    // vs q110's weak label — every arithmetic step is a correctly-
    // rounded IEEE op on identical integer inputs, so p, the bin
    // (floor(10p), top edge clamped), and all counts are bit-identical
    // cross-engine; only mean_p/brier are order-exposed sums under the
    // 6dp round (q211 convention). One scan, one 10-row aggregate +
    // a broadcast 1-row Brier — the same plan at any corpus size.
    GraftQuery(
      "q232_calibration",
      (s, d) => {
        val scored = qualityScored(s, d)
        // ONE corpus scan: the mergeable bin state carries n/n_pos/Σp/
        // Σ(p−y)², so the reliability columns AND the Brier scalar are
        // derived views of the same 10-row aggregate (Brier via an
        // unpartitioned window over those 10 rows — the separate
        // brier() branch re-scanned the corpus, caught in the explain
        // audit)
        import org.apache.spark.sql.expressions.Window
        val st = graft.ops.Calibration.binState(scored, col("p"), col("y"))
        val all = Window.partitionBy()
        st.select(col("bin"), col("n"), col("n_pos"),
            round(col("sum_p") / col("n"), 6).as("mean_p"),
            round(col("n_pos").cast("double") / col("n"), 6).as("obs_rate"),
            round(sum(col("sum_sq")).over(all) / sum(col("n")).over(all), 6)
              .as("brier"))
          .orderBy(col("bin"))
      },
      Some(s"""WITH $qualityScoredSql,
               bn AS (SELECT LEAST(9, GREATEST(0, CAST(floor(p * 10) AS INTEGER))) AS bin,
                             p, y
                      FROM sc),
               rel AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                              CAST(sum(y) AS BIGINT) AS n_pos,
                              round(sum(p) / count(*), 6) AS mean_p,
                              round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS obs_rate
                       FROM bn GROUP BY 1),
               br AS (SELECT round(avg((p - y) * (p - y)), 6) AS brier FROM bn)
               SELECT bin, n, n_pos, mean_p, obs_rate, brier
               FROM rel CROSS JOIN br ORDER BY bin""")),

    // ---- isotonic recalibration map over q232's reliability table
    // (Calibration.isotonic — PAV via the closed minimax formula
    // ĝ(i) = max_{j≤i} min_{k≥i} mean(j..k), three joins over the
    // ≤10-row BIN frame instead of a sequential pooling loop): the
    // monotone fitted rate per bin is what turns the reliability
    // DIAGNOSTIC into a usable score→probability correction. Every
    // interval mean is one division of exact integer sums and the fit
    // is min/max over those identical doubles — bit-exact
    // cross-engine, UNROUNDED, fully hash-checked. O(B³) pairs at
    // B = 10 is 10³ rows of join work on a broadcast-sized frame; the
    // corpus-sized work is only the one binning scan q232 already
    // pays.
    GraftQuery(
      "q238_isotonic_calibration",
      (s, d) => {
        val scored = qualityScored(s, d)
        graft.ops.Calibration.isotonic(
            graft.ops.Calibration.reliability(scored, col("p"), col("y")))
          .orderBy(col("bin"))
      },
      Some(s"""WITH $qualityScoredSql,
               bn AS (SELECT LEAST(9, GREATEST(0, CAST(floor(p * 10) AS INTEGER))) AS bin, y
                      FROM sc),
               rel AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                              CAST(sum(y) AS BIGINT) AS np
                       FROM bn GROUP BY 1),
               iv AS (SELECT j.bin AS j, k.bin AS k,
                             CAST(sum(m.n) AS BIGINT) AS sn,
                             CAST(sum(m.np) AS BIGINT) AS sp
                      FROM rel j JOIN rel k ON j.bin <= k.bin
                      JOIN rel m ON m.bin BETWEEN j.bin AND k.bin
                      GROUP BY 1, 2),
               mn AS (SELECT i.bin AS bin, v.j,
                             min(CAST(v.sp AS DOUBLE) / v.sn) AS mn_a
                      FROM rel i JOIN iv v ON v.j <= i.bin AND v.k >= i.bin
                      GROUP BY 1, 2),
               iso AS (SELECT bin, max(mn_a) AS iso_rate FROM mn GROUP BY 1)
               SELECT r.bin, r.n, r.np AS n_pos,
                      CAST(r.np AS DOUBLE) / r.n AS obs_rate, i.iso_rate
               FROM rel r JOIN iso i USING (bin) ORDER BY r.bin"""))
  ) ++ Seq(

    // ---- deterministic negative sampling for contrastive training
    // (Sampling.negativeSample — scale shape there): 5 hash-picked
    // non-interacted items per user from the q52 interaction matrix,
    // the pair generator feeding the ALS/word2vec-style objectives.
    // Both engines replay the identical p60 slot walk — the oracle is
    // the same dictionary/slot/anti-join construction in SQL, so the
    // hash-equality claim is "negatives are a pure function of the
    // data", the restartability property that matters for resumed
    // training.
    GraftQuery(
      "q151_negative_sampling",
      (s, d) => graft.ops.Sampling.negativeSample(
          MentionRecommender.interactions(t(s, d, "events")),
          col("user_id"), col("item"), k = 5, oversample = 15)
        .select(col("user").as("user_id"), col("neg_rank"), col("item"))
        .orderBy(col("user_id"), col("neg_rank")),
      Some(s"""WITH inter AS (SELECT user_id, CAST(props->>'k' AS INT) AS item
                              FROM events
                              WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL
                              GROUP BY 1, 2),
               dict AS (SELECT item,
                               row_number() OVER (ORDER BY item) - 1 AS idx
                        FROM (SELECT DISTINCT item FROM inter)),
               m AS (SELECT count(*) AS m FROM dict),
               slots AS (SELECT user_id, unnest(range(0, 15)) AS slot
                         FROM (SELECT DISTINCT user_id FROM inter)),
               cand AS (SELECT s.user_id, s.slot, d.item
                        FROM slots s CROSS JOIN m
                        JOIN dict d ON d.idx =
                          ${graft.ops.Portable.p60Sql(
                            "(s.user_id::VARCHAR || ':' || s.slot::VARCHAR)")} % m.m),
               neg0 AS (SELECT c.user_id, c.item, min(c.slot) AS slot
                        FROM cand c
                        LEFT JOIN inter i
                          ON c.user_id = i.user_id AND c.item = i.item
                        WHERE i.user_id IS NULL
                        GROUP BY 1, 2),
               ranked AS (SELECT user_id, item,
                                 row_number() OVER (PARTITION BY user_id
                                                    ORDER BY slot) AS neg_rank
                          FROM neg0)
               SELECT user_id, neg_rank, item FROM ranked
               WHERE neg_rank <= 5 ORDER BY user_id, neg_rank""")),

    // ---- modularity of the q138 LPA partition (Graph.modularity —
    // Newman-Girvan Q, the quality metric LPA was missing: communities
    // alone say nothing about whether the split beats random edge
    // placement). Same co-engagement graph and 3 LPA rounds as q138;
    // per-community terms e_c/m − (d_c/2m)² are emitted so the oracle
    // checks EVERY term (Q = sum(q_term) is one more aggregate away).
    // The oracle re-runs the q138 label unroll, then recomputes every
    // modularity ingredient — internal-edge counts, degree sums, m —
    // independently in SQL.
    GraftQuery(
      "q156_modularity",
      (s, d) => {
        val edges = coEdges(s, d)
          .cache() // feeds both LPA and the modularity terms
        val labels = graft.ops.Graph.labelPropagation(edges, iters = 3)
        graft.ops.Graph.modularity(edges, labels)
          .orderBy(col("label"))
      },
      Some {
        def round(k: Int, prev: String): String =
          s"""c$k AS (SELECT u.src AS node, l.label, count(*) AS cnt
                      FROM und u JOIN $prev l ON u.dst = l.node GROUP BY 1, 2),
              l$k AS MATERIALIZED (SELECT node, label FROM
                        (SELECT node, label, row_number() OVER (PARTITION BY node
                           ORDER BY cnt DESC, label) AS rn FROM c$k)
                      WHERE rn = 1)"""
        s"""WITH ${coEdgeSql(eMat = true)},
            und AS (SELECT u1 AS src, u2 AS dst FROM e
                    UNION ALL SELECT u2, u1 FROM e),
            l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
            ${round(1, "l0")},
            ${round(2, "l1")},
            ${round(3, "l2")},
            m AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM e),
            internal AS (SELECT la.label, CAST(count(*) AS BIGINT) AS internal_edges
                         FROM e JOIN l3 la ON e.u1 = la.node
                         JOIN l3 lb ON e.u2 = lb.node
                         WHERE la.label = lb.label GROUP BY 1),
            deg AS (SELECT node, count(*) AS degree FROM
                      (SELECT u1 AS node FROM e UNION ALL SELECT u2 FROM e)
                    GROUP BY 1),
            bl AS (SELECT l.label, CAST(count(*) AS BIGINT) AS n_nodes,
                          CAST(sum(d.degree) AS BIGINT) AS degree_sum
                   FROM deg d JOIN l3 l USING (node) GROUP BY 1)
            SELECT bl.label, bl.n_nodes,
                   CAST(coalesce(internal.internal_edges, 0) AS BIGINT) AS internal_edges,
                   bl.degree_sum,
                   round(coalesce(internal.internal_edges, 0) / (SELECT m FROM m)
                         - power(bl.degree_sum / (2 * (SELECT m FROM m)), 2), 6) AS q_term
            FROM bl LEFT JOIN internal USING (label)
            ORDER BY bl.label"""
      }),

    // ---- landmark hop distances over the co-engagement graph
    // (Graph.bfsDistances — synchronous min-distance BFS from a seed
    // set, 3 hops): the reachability-feature builder ("how far is every
    // user from each anchor account?"). Seeds are users {0, 1, 2} (the
    // q141 anchor set); output is the exact ≤3-hop (node, seed, dist)
    // relation — unreachable-within-3 pairs are absent, not ∞. The
    // oracle unrolls the same three min-propagation rounds with
    // MATERIALIZED hop frames (the q144 chain-link discipline).
    GraftQuery(
      "q158_bfs_distances",
      (s, d) => {
        val edges = coEdges(s, d)
        // anchors absent from the graph are ignored by the hop loop
        val seeds = s.range(3).toDF("node")
        graft.ops.Graph.bfsDistances(edges, seeds, maxHops = 3)
          .orderBy(col("node"), col("seed"))
      },
      Some {
        def hop(k: Int, prev: String): String =
          s"""h$k AS MATERIALIZED (SELECT node, seed, min(dist) AS dist FROM (
                SELECT node, seed, dist FROM $prev
                UNION ALL
                SELECT u.dst, p.seed, p.dist + 1 FROM $prev p
                JOIN und u ON p.node = u.src)
              GROUP BY 1, 2)"""
        s"""WITH ${coEdgeSql(eMat = true)},
            und AS MATERIALIZED (SELECT u1 AS src, u2 AS dst FROM e
                                 UNION ALL SELECT u2, u1 FROM e),
            h0 AS (SELECT DISTINCT src AS node, src AS seed, CAST(0 AS BIGINT) AS dist
                   FROM und WHERE src IN (0, 1, 2)),
            ${hop(1, "h0")},
            ${hop(2, "h1")},
            ${hop(3, "h2")}
            SELECT node, seed, CAST(dist AS BIGINT) AS dist FROM h3
            ORDER BY node, seed"""
      }),

    // ---- q158's directed + weighted face (Graph.bfsDistances with
    // directed=true, weightCol): cheapest ≤3-edge path cost from the
    // anchor set, propagating strictly low-id → high-id, with edge
    // weight = co-engagement multiplicity (how many shared (item, hour)
    // contexts bind the pair — the count the q158 edge list collapses
    // with DISTINCT). Min-sum over bigint weights is exact cross-engine
    // (no float path sums); bounded-round Bellman-Ford, same per-hop
    // join+min-aggregate shape and nodes×|seeds| state bound as q158.
    // The oracle unrolls the same three min-sum rounds over the
    // weighted directed edge list.
    GraftQuery(
      "q187_bfs_weighted_directed",
      (s, d) => {
        val wedges = coEdgesWeighted(s, d)
        // anchors absent from the graph are ignored by the hop loop
        val seeds = s.range(3).toDF("node")
        graft.ops.Graph.bfsDistances(wedges, seeds, maxHops = 3,
            directed = true, weightCol = Some("w"))
          .orderBy(col("node"), col("seed"))
      },
      Some {
        def hop(k: Int, prev: String): String =
          s"""h$k AS MATERIALIZED (SELECT node, seed, min(dist) AS dist FROM (
                SELECT node, seed, dist FROM $prev
                UNION ALL
                SELECT e.u2, p.seed, p.dist + e.w FROM $prev p
                JOIN e ON p.node = e.u1)
              GROUP BY 1, 2)"""
        s"""WITH ${coEdgeSql(weighted = true, eMat = true)},
            h0 AS (SELECT DISTINCT node, node AS seed, CAST(0 AS BIGINT) AS dist
                   FROM (SELECT u1 AS node FROM e UNION SELECT u2 FROM e)
                   WHERE node IN (0, 1, 2)),
            ${hop(1, "h0")},
            ${hop(2, "h1")},
            ${hop(3, "h2")}
            SELECT node, seed, CAST(dist AS BIGINT) AS dist FROM h3
            ORDER BY node, seed"""
      }),

    // ---- per-event session-relative features — the TRAINING-DATA face
    // of q68's sessionization: each event annotated with its index in
    // the session, micros since session start, and the session length —
    // the position features a sequence model trains on. Same >= 30-min
    // gap rule as q68; the total order inside a user is (ts, event_id)
    // so same-timestamp events can't flip between engines. Plan: ONE
    // exchange on user_id — the second window's (user, sid) clustering
    // is satisfied by the first's hash partitioning (coarser key), so
    // Spark adds only a sort, never a second shuffle. Exact epoch-micro
    // longs throughout.
    GraftQuery(
      "q196_session_features",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            unix_micros(col("ts")).as("us"))
        val byUser = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val withSid = ev
          .withColumn("new_s",
            when(lag(col("us"), 1).over(byUser).isNull ||
              col("us") - lag(col("us"), 1).over(byUser) >= 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("sid", sum(col("new_s")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val bySess = Window.partitionBy(col("user_id"), col("sid"))
          .orderBy(col("ts"), col("event_id"))
        val sessAll = Window.partitionBy(col("user_id"), col("sid"))
        withSid.select(col("user_id"), col("event_id"),
            row_number().over(bySess).cast("long").as("idx_in_session"),
            (col("us") - min(col("us")).over(sessAll)).as("us_since_start"),
            count(lit(1)).over(sessAll).as("session_len"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some("""WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us
                         FROM events WHERE user_id IS NOT NULL),
              s AS (SELECT user_id, event_id, ts, us,
                           CASE WHEN lag(us) OVER w IS NULL
                                  OR us - lag(us) OVER w >= 1800000000
                                THEN 1 ELSE 0 END AS new_s
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
              g AS (SELECT user_id, event_id, ts, us,
                           sum(new_s) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
                    FROM s)
              SELECT user_id, event_id,
                     CAST(row_number() OVER (PARTITION BY user_id, sid
                       ORDER BY ts, event_id) AS BIGINT) AS idx_in_session,
                     CAST(us - min(us) OVER (PARTITION BY user_id, sid)
                       AS BIGINT) AS us_since_start,
                     CAST(count(*) OVER (PARTITION BY user_id, sid)
                       AS BIGINT) AS session_len
              FROM g ORDER BY user_id, event_id""")),

    // ---- leave-one-out target encoding — the leakage-guarded
    // categorical encoder (the mean-of-target feature with the row's
    // OWN target excluded, so the feature never memorizes its label):
    // te_loo = (Σ_segment target − own) / (n_segment − 1). Scale shape:
    // one scan folds to a |segments|-row (sum, count) frame, broadcast
    // back over the fact — the encoder costs a map-side join at 100 TB,
    // no shuffle of the facts. Singleton categories yield null (the
    // honest "no peer evidence" signal) rather than a divide-by-zero.
    // 4dp rounding: the only float is the segment sum, whose
    // accumulation-order jitter is ~1e-11 of the quotient — far inside
    // the rounding grain.
    GraftQuery(
      "q197_target_encoding_loo",
      (s, d) => {
        val j = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
        val stats = j.groupBy(col("c_mktsegment"))
          .agg(sum(col("o_totalprice")).as("tsum"), count(lit(1)).as("tcnt"))
        j.join(broadcast(stats), "c_mktsegment")
          .select(col("o_orderkey"), col("c_mktsegment"),
            round(when(col("tcnt") > 1,
              (col("tsum") - col("o_totalprice")) / (col("tcnt") - 1)), 4)
              .as("te_loo"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH j AS (SELECT o_orderkey, c_mktsegment, o_totalprice
                         FROM orders JOIN customer ON o_custkey = c_custkey),
              st AS (SELECT c_mktsegment, sum(o_totalprice) AS tsum,
                            count(*) AS tcnt
                     FROM j GROUP BY 1)
              SELECT o_orderkey, c_mktsegment,
                     round(CASE WHEN tcnt > 1
                           THEN (tsum - o_totalprice) / (tcnt - 1) END, 4) AS te_loo
              FROM j JOIN st USING (c_mktsegment)
              ORDER BY o_orderkey""")),

    // ---- q197 with ADDITIVE SMOOTHING — the standard production
    // target encoder: the leave-one-out segment mean shrunk toward the
    // GLOBAL mean with prior weight m (te = (Σ_seg − own + m·ḡ) /
    // (n_seg − 1 + m)), so thin categories borrow strength from the
    // prior instead of memorizing noise — and the singleton category
    // that q197 honestly nulls now gets the finite, fully-prior value
    // ḡ (0 peer evidence + m pseudo-observations of the global mean).
    // Scale shape unchanged from q197 plus one 1-ROW global-mean frame:
    // both encoder inputs broadcast back over the fact, the facts never
    // shuffle. 4dp rounding for the same accumulation-jitter reason.
    GraftQuery(
      "q206_target_encoding_smoothed",
      (s, d) => {
        val m = 10.0
        val j = t(s, d, "orders")
          .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("c_mktsegment"), col("o_totalprice"))
        val stats = j.groupBy(col("c_mktsegment"))
          .agg(sum(col("o_totalprice")).as("tsum"), count(lit(1)).as("tcnt"))
        val g = j.agg(avg(col("o_totalprice")).as("gmean"))
        j.join(broadcast(stats), "c_mktsegment")
          .crossJoin(broadcast(g))
          .select(col("o_orderkey"), col("c_mktsegment"),
            round((col("tsum") - col("o_totalprice") + lit(m) * col("gmean")) /
              (col("tcnt") - 1 + lit(m)), 4).as("te_smooth"))
          .orderBy(col("o_orderkey"))
      },
      Some("""WITH j AS (SELECT o_orderkey, c_mktsegment, o_totalprice
                         FROM orders JOIN customer ON o_custkey = c_custkey),
              st AS (SELECT c_mktsegment, sum(o_totalprice) AS tsum,
                            count(*) AS tcnt
                     FROM j GROUP BY 1),
              g AS (SELECT avg(o_totalprice) AS gmean FROM j)
              SELECT o_orderkey, c_mktsegment,
                     round((tsum - o_totalprice + 10.0 * gmean)
                           / (tcnt - 1 + 10.0), 4) AS te_smooth
              FROM j JOIN st USING (c_mktsegment) CROSS JOIN g
              ORDER BY o_orderkey""")),

    // ---- per-user EWMA of event value (α = 0.1) — the exponentially
    // weighted feature every time-series/feature pipeline wants, whose
    // recurrence e_t = 0.9·e_{t−1} + 0.1·x_t is SEQUENTIAL and thus not
    // window-expressible. Spark-first escape: a higher-order-function
    // FOLD over the user's (ts, event_id)-sorted value list —
    // aggregate() seeded with the first value over the tail — which
    // keeps the whole computation codegen-friendly expression work, no
    // mapGroups/UDF. Cross-engine exactness: both engines execute the
    // IDENTICAL left-to-right IEEE op sequence (DuckDB's list_reduce
    // seeds from the head element — the same recurrence), so the 6dp
    // round is a formality, not a mask. Scale note: the per-user list
    // is per-key-bounded state — the same bound sessionization carries;
    // a single pathological key with 10⁸ events needs chunked
    // pre-aggregation regardless of formulation.
    GraftQuery(
      "q198_ewma",
      (s, d) => t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("value").cast("double").as("v")))).as("xs"))
        .select(col("user_id"), col("n"),
          round(expr(
            """aggregate(slice(xs, 2, size(xs) - 1), xs[0].v,
              |(acc, e) -> acc * 0.9 + 0.1 * e.v)""".stripMargin), 6).as("ewma"))
        .orderBy(col("user_id")),
      Some("""WITH s AS (SELECT user_id,
                                CAST(count(*) AS BIGINT) AS n,
                                list(value ORDER BY ts, event_id) AS xs
                         FROM events WHERE user_id IS NOT NULL GROUP BY 1)
              SELECT user_id, n,
                     round(list_reduce(xs, (acc, x) -> acc * 0.9 + 0.1 * x), 6) AS ewma
              FROM s ORDER BY user_id""")),

    // ---- multi-touch attribution with time-decay credit — q57 names
    // WHICH clicks preceded a purchase; this one says how much credit
    // each gets: weight halves per 15-minute bucket of lead time
    // (w = 2^(−⌊Δ/15min⌋)), normalized per purchase, credited value =
    // share × purchase value. Determinism by construction: Δ ≤ 1h so
    // the exponent is an INTEGER 0..4 and every weight is an exact
    // dyadic double — weights, their per-purchase sums (≤ a few small
    // dyadics) and the shares are bit-identical on both engines, no
    // libm pow variance in the hash. Scale shape: the interval join is
    // q57's (watermark-bounded in stream form); the normalizing window
    // partitions by purchase_id — bounded by a purchase's click count.
    GraftQuery(
      "q199_multitouch_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val att = EventStreams.purchaseAttribution(t(s, d, "events"))
        val w = pow(lit(0.5),
          expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) DIV 900000000"))
        val byP = Window.partitionBy(col("purchase_id"))
        att.withColumn("w", w)
          .select(col("purchase_id"), col("user_id"),
            date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_s"),
            round(col("w") / sum(col("w")).over(byP), 6).as("share"),
            round(col("value") * col("w") / sum(col("w")).over(byP), 4)
              .as("credited"))
          // click_s is second-truncated, so two clicks in one second that
          // straddle a decay boundary produce DISTINCT rows with equal
          // (purchase_id, click_s) — share breaks the tie (rows that
          // still collide are full-row-identical, hence interchangeable)
          .orderBy(col("purchase_id"), col("click_s"), col("share"))
      },
      Some("""WITH a AS (SELECT p.event_id AS purchase_id, p.user_id,
                                c.ts AS click_ts, p.value,
                                power(0.5, (epoch_us(p.ts) - epoch_us(c.ts))
                                           // 900000000) AS w
                         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
                         JOIN (SELECT * FROM events WHERE event_type = 'click') c
                           ON c.user_id = p.user_id
                          AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR)
              SELECT purchase_id, user_id,
                     strftime(click_ts, '%Y-%m-%d %H:%M:%S') AS click_s,
                     round(w / sum(w) OVER (PARTITION BY purchase_id), 6) AS share,
                     round(value * w / sum(w) OVER (PARTITION BY purchase_id), 4)
                       AS credited
              FROM a ORDER BY purchase_id, click_s,
                     round(w / sum(w) OVER (PARTITION BY purchase_id), 6)""")),

    // ---- q187 with PATH RECONSTRUCTION (Graph.shortestPathTree): per
    // (node, anchor) not just the cheapest ≤3-edge cost but the
    // predecessor on one such path (pred = -1 at the anchor; ties to
    // the lowest predecessor id), so walking pred links recovers an
    // actual shortest path — the "how is this account connected to the
    // anchor" explanation, not just "how far". The per-round reduction
    // is a lexicographic (dist, pred) minimum, map-side combined. The
    // oracle unrolls the same three rounds with a
    // row_number-over-(dist, pred) pick.
    GraftQuery(
      "q200_shortest_path_tree",
      (s, d) => {
        val wedges = coEdgesWeighted(s, d)
        // anchors absent from the graph are ignored by the hop loop
        val seeds = s.range(3).toDF("node")
        graft.ops.Graph.shortestPathTree(wedges, seeds, maxHops = 3,
            directed = true, weightCol = Some("w"))
          .orderBy(col("node"), col("seed"))
      },
      Some {
        def hop(k: Int, prev: String): String =
          s"""h$k AS MATERIALIZED (SELECT node, seed, dist, pred FROM (
                SELECT node, seed, dist, pred,
                       row_number() OVER (PARTITION BY node, seed
                         ORDER BY dist, pred) AS rn
                FROM (SELECT node, seed, dist, pred FROM $prev
                      UNION ALL
                      SELECT e.u2, p.seed, p.dist + e.w, p.node
                      FROM $prev p JOIN e ON p.node = e.u1))
              WHERE rn = 1)"""
        s"""WITH ${coEdgeSql(weighted = true, eMat = true)},
            h0 AS (SELECT DISTINCT node, node AS seed, CAST(0 AS BIGINT) AS dist,
                          CAST(-1 AS BIGINT) AS pred
                   FROM (SELECT u1 AS node FROM e UNION SELECT u2 FROM e)
                   WHERE node IN (0, 1, 2)),
            ${hop(1, "h0")},
            ${hop(2, "h1")},
            ${hop(3, "h2")}
            SELECT node, seed, CAST(dist AS BIGINT) AS dist,
                   CAST(pred AS BIGINT) AS pred
            FROM h3 ORDER BY node, seed"""
      }),

    // ---- per-user time-weighted average value (TWAP) — the telemetry/
    // finance average that weights each reading by how long it HELD
    // (Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_n−t₀)), which a plain avg gets wrong the
    // moment sampling is irregular. Like q198's EWMA the recurrence is
    // sequential (needs the previous reading and timestamp), so it runs
    // as a struct-accumulator aggregate() fold over the sorted list —
    // still expression work, no mapGroups — and DuckDB replays the
    // identical fold with list_reduce over the same struct shape, so
    // every intermediate double matches bit-for-bit. Single-reading or
    // zero-span users yield null (no time to weight), not a 0/0.
    GraftQuery(
      "q201_twap",
      (s, d) => t(s, d, "events")
        .filter(col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          array_sort(collect_list(struct(
            unix_micros(col("ts")).as("t"), col("event_id").as("e"),
            col("value").cast("double").as("v")))).as("xs"))
        .select(col("user_id"), col("n"),
          expr("xs[size(xs) - 1].t - xs[0].t").as("span_us"),
          round(expr(
            """aggregate(slice(xs, 2, size(xs) - 1),
              |named_struct('t', xs[0].t, 'v', xs[0].v, 's', CAST(0.0 AS DOUBLE)),
              |(acc, x) -> named_struct('t', x.t, 'v', x.v,
              |                         's', acc.s + acc.v * (x.t - acc.t)),
              |acc -> CASE WHEN acc.t > xs[0].t
              |            THEN acc.s / (acc.t - xs[0].t) END)""".stripMargin), 6)
            .as("twap"))
        .orderBy(col("user_id")),
      Some("""WITH s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                                list(struct_pack(t := epoch_us(ts),
                                                 v := value,
                                                 s := CAST(0.0 AS DOUBLE))
                                     ORDER BY ts, event_id) AS xs
                         FROM events WHERE user_id IS NOT NULL GROUP BY 1),
              f AS (SELECT user_id, n,
                           xs[-1].t - xs[1].t AS span_us,
                           list_reduce(xs, (acc, x) -> struct_pack(
                             t := x.t, v := x.v,
                             s := acc.s + acc.v * (x.t - acc.t))) AS fin,
                           xs[1].t AS t0
                    FROM s)
              SELECT user_id, n, CAST(span_us AS BIGINT) AS span_us,
                     round(CASE WHEN fin.t > t0
                           THEN fin.s / (fin.t - t0) END, 6) AS twap
              FROM f ORDER BY user_id""")),

    // ---- q198's MERGEABLE face (ops.Ewma — affine segment
    // composition): per-(user, day) partials fold to (multiplier,
    // offset) pairs, an ordered fold over the day pairs replays the
    // identical recurrence — both levels bounded (a day's rows; a
    // user's days), where q198 buffers the whole per-user history.
    // The ORACLE IS q198's flat whole-history fold: hash equality is
    // the claim that segment composition reproduces the sequential
    // recurrence — exact in real arithmetic, ulp-scale reassociation
    // in IEEE (OpsSpec pins 1e-9 across segment grains), far inside
    // the 6dp reporting grain. q198 stays registered as the
    // exactness twin.
    GraftQuery(
      "q205_ewma_segmented",
      (s, d) => graft.ops.Ewma.segmented(
          t(s, d, "events").filter(col("user_id").isNotNull),
          col("user_id"), date_trunc("day", col("ts")),
          Seq(col("ts"), col("event_id")), col("value"), alpha = 0.1)
        .select(col("key").as("user_id"), col("n"),
          round(col("ewma"), 6).as("ewma"))
        .orderBy(col("user_id")),
      Some("""WITH s AS (SELECT user_id,
                                CAST(count(*) AS BIGINT) AS n,
                                list(value ORDER BY ts, event_id) AS xs
                         FROM events WHERE user_id IS NOT NULL GROUP BY 1)
              SELECT user_id, n,
                     round(list_reduce(xs, (acc, x) -> acc * 0.9 + 0.1 * x), 6) AS ewma
              FROM s ORDER BY user_id""")),

    // ---- q201's MERGEABLE face (ops.Twap — segment-pair composition):
    // per-(user, day) partials carry (n, t_first, t_last, v_last,
    // interior Σ v·Δt); an ordered fold over the day structs bridges
    // each boundary with ONE v_last·gap term — both levels bounded (a
    // day's rows; a user's days), where q201 buffers the whole per-user
    // history. Simpler than q205's affine case: time-weighted sums
    // compose by plain pairs. The ORACLE IS q201's flat whole-history
    // fold (verbatim — the q205 convention): hash equality is the claim
    // that segment composition reproduces the sequential fold — exact
    // in real arithmetic, ulp-scale reassociation in IEEE (OpsSpec pins
    // 1e-9 across segment grains), far inside the 6dp reporting grain.
    // q201 stays registered as the exactness twin.
    GraftQuery(
      "q230_twap_segmented",
      (s, d) => graft.ops.Twap.segmented(
          t(s, d, "events").filter(col("user_id").isNotNull),
          col("user_id"), date_trunc("day", col("ts")),
          unix_micros(col("ts")), Seq(col("event_id").as("e")),
          col("value"))
        .select(col("key").as("user_id"), col("n"), col("span_us"),
          round(col("twap"), 6).as("twap"))
        .orderBy(col("user_id")),
      Some("""WITH s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n,
                                list(struct_pack(t := epoch_us(ts),
                                                 v := value,
                                                 s := CAST(0.0 AS DOUBLE))
                                     ORDER BY ts, event_id) AS xs
                         FROM events WHERE user_id IS NOT NULL GROUP BY 1),
              f AS (SELECT user_id, n,
                           xs[-1].t - xs[1].t AS span_us,
                           list_reduce(xs, (acc, x) -> struct_pack(
                             t := x.t, v := x.v,
                             s := acc.s + acc.v * (x.t - acc.t))) AS fin,
                           xs[1].t AS t0
                    FROM s)
              SELECT user_id, n, CAST(span_us AS BIGINT) AS span_us,
                     round(CASE WHEN fin.t > t0
                           THEN fin.s / (fin.t - t0) END, 6) AS twap
              FROM f ORDER BY user_id""")),

    // ---- HITS over the bipartite user→item engagement graph
    // (Graph.hits — scale rationale there): two alternating rounds of
    // hub/authority reinforcement, max-normalized and 6dp-pinned per
    // half-step so the oracle replays the identical unrolled chain.
    // PageRank (q134 family) ranks within one node universe; HITS is
    // the bipartite answer — "power users" and "popular items" scored
    // in each other's terms. Output: both score frames stacked with a
    // kind column, totally ordered.
    GraftQuery(
      "q228_hits_bipartite",
      (s, d) => {
        val e = t(s, d, "events")
          .filter(col("user_id").isNotNull && Tables.propsItem.isNotNull)
          .select(col("user_id").as("u"), Tables.propsItem.as("i"))
        val (hub, auth) = graft.ops.Graph.hits(e, iters = 2)
        hub.select(lit("hub").as("kind"), col("u").cast("long").as("id"),
            col("h").as("score"))
          .unionByName(auth.select(lit("auth").as("kind"),
            col("i").cast("long").as("id"), col("a").as("score")))
          .orderBy(col("kind"), col("id"))
      },
      Some("""WITH e AS (SELECT DISTINCT user_id AS u,
                                CAST(props->>'k' AS INTEGER) AS i
                         FROM events
                         WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL),
              h0 AS (SELECT DISTINCT u, CAST(1.0 AS DOUBLE) AS h FROM e),
              ra1 AS (SELECT i, sum(h) AS ra FROM e JOIN h0 USING (u) GROUP BY 1),
              a1 AS (SELECT i, round(ra / (SELECT max(ra) FROM ra1), 6) AS a FROM ra1),
              rh1 AS (SELECT u, sum(a) AS rh FROM e JOIN a1 USING (i) GROUP BY 1),
              h1 AS (SELECT u, round(rh / (SELECT max(rh) FROM rh1), 6) AS h FROM rh1),
              ra2 AS (SELECT i, sum(h) AS ra FROM e JOIN h1 USING (u) GROUP BY 1),
              a2 AS (SELECT i, round(ra / (SELECT max(ra) FROM ra2), 6) AS a FROM ra2),
              rh2 AS (SELECT u, sum(a) AS rh FROM e JOIN a2 USING (i) GROUP BY 1),
              h2 AS (SELECT u, round(rh / (SELECT max(rh) FROM rh2), 6) AS h FROM rh2)
              SELECT kind, id, score FROM (
                SELECT 'hub' AS kind, CAST(u AS BIGINT) AS id, h AS score FROM h2
                UNION ALL
                SELECT 'auth', CAST(i AS BIGINT), a FROM a2)
              ORDER BY kind, id""")),

    // ---- temporal train/test split audit — q227's TIME-based
    // counterpart: for anything forecasting-shaped, random/hash folds
    // LEAK (the model trains on the future); the honest split is a
    // calendar cutoff. The cutoff is derived scale-cleanly from two
    // scalars (min/max event day, integer 80% of the span — no global
    // sort, unlike an exact row quantile; the 4/5 is INTEGER FLOOR
    // DIVISION spelled identically on both engines — Spark `DIV`,
    // DuckDB `//` — because the obvious `(dd * 4 / 5)::int` is a
    // double TRUNCATED toward zero in Spark but ROUNDED to nearest in
    // DuckDB, so any day span with dd mod 5 in {1, 2} would put the
    // two cutoffs one day apart and break the hash contract on 40% of
    // possible spans), and the audit reports what
    // a split review needs: row/user counts per side, the users
    // present on BOTH sides (fine for user-level features, a leak for
    // per-user target statistics — counted, not hidden), and the
    // achieved train fraction vs the nominal 80%. All integers plus
    // two rounded divisions.
    GraftQuery(
      "q229_temporal_split",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val bounds = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(col("d0"),
            date_add(col("d0"),
              expr("(datediff(d1, d0) * 4) DIV 5").cast("int")).as("cutoff"))
        // tagged is consumed twice (row-count agg + per-user agg) — both
        // are one fact scan with a scan-side broadcast tag; at 100 TB two
        // cheap scans beat persisting the whole tagged fact table, so the
        // re-derivation is deliberate (the consumed-twice convention).
        val tagged = ev.crossJoin(broadcast(bounds))
          .withColumn("is_train", col("day") < col("cutoff"))
        val users = tagged.groupBy(col("user_id"))
          .agg(max(when(col("is_train"), 1).otherwise(0)).as("in_train"),
            max(when(!col("is_train"), 1).otherwise(0)).as("in_test"))
        tagged.agg(
            first(col("cutoff").cast("string")).as("cutoff_day"),
            sum(when(col("is_train"), 1L).otherwise(0L)).as("n_train"),
            sum(when(!col("is_train"), 1L).otherwise(0L)).as("n_test"))
          .crossJoin(broadcast(users.agg(
            sum(col("in_train").cast("long")).as("n_users_train"),
            sum(col("in_test").cast("long")).as("n_users_test"),
            sum(when(col("in_train") === 1 && col("in_test") === 1, 1L)
              .otherwise(0L)).as("n_users_both"))))
          .select(col("cutoff_day"), col("n_train"), col("n_test"),
            col("n_users_train"), col("n_users_test"), col("n_users_both"),
            round(col("n_train").cast("double") /
              (col("n_train") + col("n_test")), 6).as("train_frac"),
            round(col("n_users_both").cast("double") / col("n_users_train"), 6)
              .as("user_overlap_frac"))
      },
      Some("""WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day
                          FROM events WHERE user_id IS NOT NULL),
              b AS (SELECT min(day) AS d0,
                           min(day) + ((date_diff('day', min(day), max(day))
                             * 4) // 5) * INTERVAL 1 DAY AS cutoff
                    FROM ev),
              tg AS (SELECT user_id, (day < (SELECT cutoff FROM b)) AS is_train
                     FROM ev),
              us AS (SELECT user_id,
                            max(CASE WHEN is_train THEN 1 ELSE 0 END) AS in_train,
                            max(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS in_test
                     FROM tg GROUP BY 1),
              ua AS (SELECT CAST(sum(in_train) AS BIGINT) AS n_users_train,
                            CAST(sum(in_test) AS BIGINT) AS n_users_test,
                            CAST(sum(CASE WHEN in_train = 1 AND in_test = 1
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_users_both
                     FROM us)
              SELECT CAST(CAST((SELECT cutoff FROM b) AS DATE) AS VARCHAR) AS cutoff_day,
                     CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                     CAST(sum(CASE WHEN NOT is_train THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
                     ua.n_users_train, ua.n_users_test, ua.n_users_both,
                     round(CAST(sum(CASE WHEN is_train THEN 1 ELSE 0 END) AS DOUBLE)
                           / count(*), 6) AS train_frac,
                     round(CAST(ua.n_users_both AS DOUBLE) / ua.n_users_train, 6)
                       AS user_overlap_frac
              FROM tg CROSS JOIN ua
              GROUP BY ua.n_users_train, ua.n_users_test, ua.n_users_both""")),

    // ---- group-aware K-fold assignment — the train/eval split
    // primitive done the only way that survives at scale AND avoids
    // leakage: the fold is a deterministic HASH of the GROUP key (user),
    // so every row of a user lands in one fold (no user straddles
    // train and test — the leakage GroupKFold exists to prevent), the
    // assignment is reproducible across runs/engines/partitionings
    // with zero state, and adding new rows never reshuffles existing
    // users. Output is the per-fold audit: user and event counts plus
    // shares (hash balance is statistical, not exact — the audit is
    // how you SEE the imbalance instead of assuming it away). One
    // aggregate over a scan; the fold column itself is scan-side.
    GraftQuery(
      "q227_group_kfold",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
          .withColumn("fold",
            pmod(graft.ops.Portable.p60(col("user_id").cast("string")), lit(5)))
        val tot = ev.agg(countDistinct(col("user_id")).as("tu"),
          count(lit(1)).as("te"))
        ev.groupBy(col("fold"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_events"))
          .crossJoin(broadcast(tot))
          .select(col("fold"), col("n_users"), col("n_events"),
            round(col("n_users").cast("double") / col("tu"), 6).as("user_share"),
            round(col("n_events").cast("double") / col("te"), 6).as("event_share"))
          .orderBy(col("fold"))
      },
      Some(s"""WITH ev AS (SELECT user_id,
                                  ${Portable.p60Sql("CAST(user_id AS VARCHAR)")} % 5 AS fold
                           FROM events WHERE user_id IS NOT NULL),
               tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS tu,
                              CAST(count(*) AS BIGINT) AS te
                       FROM ev)
               SELECT fold, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                      CAST(count(*) AS BIGINT) AS n_events,
                      round(CAST(count(DISTINCT user_id) AS DOUBLE) / tu, 6)
                        AS user_share,
                      round(CAST(count(*) AS DOUBLE) / te, 6) AS event_share
               FROM ev CROSS JOIN tot
               GROUP BY fold, tu, te ORDER BY fold""")),

    // ---- offline ranking evaluation (ops.RankEval — the harness next
    // to W2/ANN/BM25): recommend each user their top-5 items by
    // even-half engagement count (count DESC, item ASC — deterministic,
    // non-ML so the oracle can replay it), hold out the odd half as
    // the relevant set, and score per user: hits, precision@5,
    // recall@5, NDCG@5, MRR@5. The only non-rational arithmetic is
    // 1/log2(p+1) on integer positions ≤ 6 — identical libm inputs on
    // both engines, 6dp-rounded. Eval cost is recommendation-volume
    // bound (k·|users| join rows), which is what lets this run on
    // every model build at 100 TB.
    GraftQuery(
      "q216_ranking_metrics",
      (s, d) => {
        val (ev, recs) = recEval(s, d)
        val truth = ev.filter(pmod(col("event_id"), lit(2)) === 1)
          .select(col("user"), col("item")).distinct()
        graft.ops.RankEval.metrics(recs, truth, k = 5)
          .orderBy(col("user"))
      },
      Some(s"""WITH $recEvalSql,
              truth AS (SELECT DISTINCT u, item FROM ev WHERE event_id % 2 = 1),
              rel AS (SELECT u, CAST(count(*) AS BIGINT) AS n_rel
                      FROM truth GROUP BY 1),
              fl AS (SELECT r.u, r.rank, (t.u IS NOT NULL) AS hit
                     FROM recs r LEFT JOIN truth t
                       ON r.u = t.u AND r.item = t.item),
              per AS (SELECT u,
                             CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS hits,
                             coalesce(sum(CASE WHEN hit
                               THEN CAST(1.0 AS DOUBLE) / log2(rank + 1) END),
                               CAST(0.0 AS DOUBLE)) AS dcg,
                             min(CASE WHEN hit THEN rank END) AS first_hit
                      FROM fl GROUP BY 1)
              SELECT p.u AS "user", rel.n_rel, p.hits,
                     round(CAST(p.hits AS DOUBLE) / 5, 6) AS precision,
                     round(CAST(p.hits AS DOUBLE) / rel.n_rel, 6) AS recall,
                     round(p.dcg / list_sum(list_transform(
                       range(1, CAST(least(5, rel.n_rel) AS INTEGER) + 1),
                       x -> CAST(1.0 AS DOUBLE) / log2(x + 1))), 6) AS ndcg,
                     round(coalesce(CAST(1.0 AS DOUBLE) / p.first_hit,
                       CAST(0.0 AS DOUBLE)), 6) AS mrr
              FROM per p JOIN rel ON p.u = rel.u
              ORDER BY p.u""")),

    // ---- classifier threshold sweep (PR curve): q232 asks "are the
    // scores calibrated?"; this asks the deployment question "what
    // cutoff do I ship?". ONE corpus scan builds the same 10-bin
    // (n, n_pos) state as the calibration pair (bin b holds p in
    // [b/10, (b+1)/10)), and every threshold t = k/10 is then a
    // SUFFIX SUM over that 10-row frame: p >= k/10 ⇔ bin >= k exactly
    // (the bin edges ARE the thresholds), so TP/FP/FN/TN per
    // threshold are integer-exact without a second scan or a 10×
    // row fan-out of the corpus. The suffix window runs over 10 rows
    // by construction (the q98 bounded-domain convention); the bin
    // frame is densified against the full 0..9 domain with zero
    // counts, so every threshold emits a row even when no score
    // landed in its bin (suffix sums unchanged by zero rows). F1 is
    // computed as 2TP/(2TP+FP+FN) — one division of exact integers —
    // never from the already-rounded precision and recall;
    // zero-denominator edges (no predicted positives at t=0.9 etc.)
    // emit NULL on both engines, not 0/0.
    GraftQuery(
      "q245_pr_curve",
      (s, d) => graft.ops.Calibration.prCurveFromState(
          graft.ops.Calibration.binState(
            qualityScored(s, d), col("p"), col("y")))
        .orderBy(col("threshold")),
      Some(s"""WITH $qualityScoredSql,
               bn AS (SELECT LEAST(9, GREATEST(0,
                        CAST(floor(p * 10) AS INTEGER))) AS bin, y
                      FROM sc),
               b0 AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                             CAST(sum(y) AS BIGINT) AS np
                      FROM bn GROUP BY 1),
               b AS (SELECT f.bin,
                            coalesce(b0.n, CAST(0 AS BIGINT)) AS n,
                            coalesce(b0.np, CAST(0 AS BIGINT)) AS np
                     FROM (SELECT unnest(range(0, 10)) AS bin) f
                     LEFT JOIN b0 ON f.bin = b0.bin),
               s AS (SELECT bin,
                            CAST(sum(np) OVER w AS BIGINT) AS tp,
                            CAST(sum(n) OVER w - sum(np) OVER w AS BIGINT) AS fp,
                            CAST(sum(np) OVER () - sum(np) OVER w AS BIGINT) AS fn,
                            CAST(sum(n) OVER () - sum(n) OVER w
                              - (sum(np) OVER () - sum(np) OVER w) AS BIGINT) AS tn
                     FROM b
                     WINDOW w AS (ORDER BY bin DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW))
               SELECT bin / 10.0 AS threshold, tp, fp, fn, tn,
                      CASE WHEN tp + fp > 0
                           THEN round(CAST(tp AS DOUBLE) / (tp + fp), 6)
                      END AS precision,
                      CASE WHEN tp + fn > 0
                           THEN round(CAST(tp AS DOUBLE) / (tp + fn), 6)
                      END AS recall,
                      CASE WHEN 2 * tp + fp + fn > 0
                           THEN round(2.0 * tp / (2 * tp + fp + fn), 6)
                      END AS f1
               FROM s ORDER BY threshold""")),

    // ---- Wilson 95% interval per group — the eval family's missing
    // rigor piece: a raw rate over 40 events and one over 40k both
    // print "0.28", but only the interval says which is evidence and
    // which is noise (z-score q226 standardizes VALUES; this bounds
    // PROPORTIONS). Monitored proportion: weekend share per event
    // type. Cross-engine exactness: the only inputs are two longs per
    // group (weekend test is integer day-of-week arithmetic, spelled
    // per-engine since Spark counts Sun=1..Sat=7 and DuckDB isodow
    // Mon=1..Sun=7); every downstream op (+,-,*,/,sqrt) is
    // IEEE-correctly-rounded on both engines, so with the SAME
    // association order the doubles are bit-identical; the one
    // non-integer literal enters as CAST(1.96 AS DOUBLE) on both
    // sides (a bare 1.96 types DECIMAL in DuckDB and reassociates the
    // arithmetic). 6dp-rounded for output. Scale: one
    // partial-aggregating scan, |event_type|-row result.
    GraftQuery(
      "q248_wilson_bounds",
      (s, d) => {
        val agg = t(s, d, "events")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(dayofweek(col("ts")).isin(1, 7), 1L).otherwise(0L))
              .as("k"))
        val n = col("n").cast("double")
        val k = col("k").cast("double")
        val p = k / n
        val z = lit(1.96)
        val z2 = z * z
        val denom = lit(1) + z2 / n
        val center = (p + z2 / (lit(2) * n)) / denom
        val half = (z / denom) *
          sqrt((p * (lit(1) - p)) / n + z2 / (lit(4) * n * n))
        agg.select(col("event_type"), col("n"), col("k"),
            round(p, 6).as("rate"),
            round(center - half, 6).as("lo95"),
            round(center + half, 6).as("hi95"))
          .orderBy(col("event_type"))
      },
      Some("""WITH a AS (SELECT event_type,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END)
                       AS BIGINT) AS k
                   FROM events GROUP BY 1),
              w AS (SELECT event_type, n, k,
                           CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
                           CAST(1.96 AS DOUBLE) AS z,
                           CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2,
                           CAST(n AS DOUBLE) AS nd
                    FROM a)
              SELECT event_type, n, k,
                     round(p, 6) AS rate,
                     round((p + z2 / (2 * nd)) / (1 + z2 / nd)
                       - (z / (1 + z2 / nd))
                         * sqrt((p * (1 - p)) / nd + z2 / (4 * nd * nd)), 6)
                       AS lo95,
                     round((p + z2 / (2 * nd)) / (1 + z2 / nd)
                       + (z / (1 + z2 / nd))
                         * sqrt((p * (1 - p)) / nd + z2 / (4 * nd * nd)), 6)
                       AS hi95
              FROM w ORDER BY event_type""")),

    // ---- two-proportion z-test (the A/B read-out): arms assigned by
    // the deterministic user hash (the repo's assignment idiom — no
    // stored experiment table needed, reproducible across engines and
    // reruns), outcome = converted within 72 full hours of the user's
    // first event. Elapsed hours are INTEGER floor division of epoch
    // micros on both engines — DuckDB's date_diff('hour', …) counts
    // boundary CROSSINGS (10:59→11:01 is "1 hour"), so it is never
    // used. The z statistic is IEEE-identical cross-engine (integer
    // counts in, same association order, correctly-rounded ops);
    // `significant` gates on the UNROUNDED z vs CAST(1.96 AS DOUBLE)
    // (the q214 discipline: round for reporting, never for verdicts).
    // One |users|-sized frame, one final 1-row aggregate.
    GraftQuery(
      "q249_ab_ztest",
      (s, d) => {
        val u = conversion72(s, d)
          .select(pmod(Portable.p60(col("user_id").cast("string")), lit(2))
            .as("arm"), col("event"))
        val agg = u.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0 && col("event"), 1L).otherwise(0L)).as("k_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1 && col("event"), 1L).otherwise(0L)).as("k_b"))
        val p1 = col("k_a").cast("double") / col("n_a").cast("double")
        val p2 = col("k_b").cast("double") / col("n_b").cast("double")
        val ph = (col("k_a") + col("k_b")).cast("double") /
          (col("n_a") + col("n_b")).cast("double")
        val se = sqrt(ph * (lit(1) - ph) *
          (lit(1) / col("n_a").cast("double") + lit(1) / col("n_b").cast("double")))
        val z = (p1 - p2) / se
        agg.select(col("n_a"), col("k_a"), col("n_b"), col("k_b"),
          round(p1, 6).as("rate_a"), round(p2, 6).as("rate_b"),
          when(se > 0, round(z, 6)).as("z"),
          coalesce(when(se > 0, abs(z) > lit(1.96)), lit(false))
            .as("significant"))
      },
      Some(s"""WITH $conversion72Sql,
               arm AS (SELECT (${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                                AS arm, event
                       FROM lab),
               a AS (SELECT
                       CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(sum(CASE WHEN arm = 0 AND event THEN 1 ELSE 0 END) AS BIGINT) AS k_a,
                       CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                       CAST(sum(CASE WHEN arm = 1 AND event THEN 1 ELSE 0 END) AS BIGINT) AS k_b
                     FROM arm),
               c AS (SELECT n_a, k_a, n_b, k_b,
                            CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
                            CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
                            CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS ph
                     FROM a),
               e AS (SELECT c.*,
                            sqrt(ph * (1 - ph) * (1 / CAST(n_a AS DOUBLE)
                              + 1 / CAST(n_b AS DOUBLE))) AS se
                     FROM c)
               SELECT n_a, k_a, n_b, k_b,
                      round(p1, 6) AS rate_a, round(p2, 6) AS rate_b,
                      CASE WHEN se > 0 THEN round((p1 - p2) / se, 6) END AS z,
                      COALESCE(CASE WHEN se > 0
                        THEN abs((p1 - p2) / se) > CAST(1.96 AS DOUBLE) END,
                        false) AS significant
               FROM e""")),

    // ---- Welch's unequal-variance t-test on purchase spend between
    // the q249 arms — the CONTINUOUS-metric read-out next to q249's
    // rate z (pooled-variance t would be wrong the moment one arm's
    // spend is burstier). Inputs are three exact longs per arm (n,
    // Σcents, Σcents² — the floor-cent convention; c² sums stay under
    // 2^63 to ~10¹³ rows at this price scale), the variance uses the
    // (Σc² − (Σc)²/n)/(n−1) form with the squaring done in DOUBLES
    // ((Σc)² would overflow longs first — the one term exact longs
    // can't carry), and t + Welch–Satterthwaite df are one identical-
    // association IEEE chain on both engines. `significant` is gated
    // on the unrounded t (the q249 coalesce convention); df ≫ 30 so
    // the 1.96 normal cut is the declared approximation.
    GraftQuery(
      "q281_welch_ttest",
      (s, d) => {
        val p = t(s, d, "events")
          .filter(col("event_type") === "purchase" && col("user_id").isNotNull)
          .select(pmod(Portable.p60(col("user_id").cast("string")), lit(2))
              .as("arm"),
            floor(col("value") * 100).cast("long").as("c"))
        val agg = p.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0, col("c")).otherwise(0L)).as("s_a"),
          sum(when(col("arm") === 0, col("c") * col("c")).otherwise(0L)).as("q_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1, col("c")).otherwise(0L)).as("s_b"),
          sum(when(col("arm") === 1, col("c") * col("c")).otherwise(0L)).as("q_b"))
        def v(qc: Column, sc: Column, nc: Column): Column =
          (qc.cast("double") - sc.cast("double") * sc.cast("double") /
            nc.cast("double")) / (nc.cast("double") - lit(1.0))
        val va = v(col("q_a"), col("s_a"), col("n_a"))
        val vb = v(col("q_b"), col("s_b"), col("n_b"))
        val se2 = va / col("n_a").cast("double") + vb / col("n_b").cast("double")
        val tstat = (col("s_a").cast("double") / col("n_a").cast("double") -
          col("s_b").cast("double") / col("n_b").cast("double")) / sqrt(se2)
        val df = se2 * se2 /
          ((va / col("n_a").cast("double")) * (va / col("n_a").cast("double")) /
            (col("n_a").cast("double") - lit(1.0)) +
           (vb / col("n_b").cast("double")) * (vb / col("n_b").cast("double")) /
            (col("n_b").cast("double") - lit(1.0)))
        agg.select(col("n_a"), col("n_b"),
          round(col("s_a").cast("double") / col("n_a").cast("double"), 6)
            .as("mean_a"),
          round(col("s_b").cast("double") / col("n_b").cast("double"), 6)
            .as("mean_b"),
          round(va, 6).as("var_a"), round(vb, 6).as("var_b"),
          when(se2 > 0, round(tstat, 6)).as("t"),
          when(se2 > 0, round(df, 6)).as("df"),
          coalesce(when(se2 > 0, abs(tstat) > lit(1.96)), lit(false))
            .as("significant"))
      },
      Some(s"""WITH p AS (SELECT (${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                                  AS arm,
                                CAST(floor(value * 100) AS BIGINT) AS c
                         FROM events
                         WHERE event_type = 'purchase' AND user_id IS NOT NULL),
               a AS (SELECT
                       CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(sum(CASE WHEN arm = 0 THEN c ELSE 0 END) AS BIGINT) AS s_a,
                       CAST(sum(CASE WHEN arm = 0 THEN c * c ELSE 0 END) AS BIGINT) AS q_a,
                       CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                       CAST(sum(CASE WHEN arm = 1 THEN c ELSE 0 END) AS BIGINT) AS s_b,
                       CAST(sum(CASE WHEN arm = 1 THEN c * c ELSE 0 END) AS BIGINT) AS q_b
                     FROM p),
               vv AS (SELECT a.*,
                        (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
                          / CAST(n_a AS DOUBLE)) / (CAST(n_a AS DOUBLE) - 1.0) AS va,
                        (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
                          / CAST(n_b AS DOUBLE)) / (CAST(n_b AS DOUBLE) - 1.0) AS vb
                      FROM a),
               ss AS (SELECT vv.*,
                        va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE) AS se2,
                        (CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                          - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS md
                      FROM vv)
               SELECT n_a, n_b,
                      round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS mean_a,
                      round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS mean_b,
                      round(va, 6) AS var_a, round(vb, 6) AS var_b,
                      CASE WHEN se2 > 0 THEN round(md / sqrt(se2), 6) END AS t,
                      CASE WHEN se2 > 0 THEN round(se2 * se2 /
                        ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE))
                           / (CAST(n_a AS DOUBLE) - 1.0)
                         + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE))
                           / (CAST(n_b AS DOUBLE) - 1.0)), 6) END AS df,
                      COALESCE(CASE WHEN se2 > 0
                        THEN abs(md / sqrt(se2)) > CAST(1.96 AS DOUBLE) END,
                        false) AS significant
               FROM ss""")),

    // ---- uplift by pre-exposure activity stratum — the heterogeneity
    // read-out q249's single pooled z averages away: does the
    // treatment move LIGHT users differently from heavy ones. Strata
    // are FIXED buckets of the user's first-fortnight event count
    // (0 / 1-2 / 3-5 / 6-10 / 11+ — fixed boundaries, not ntile: an
    // unpartitioned |users| quantile sort is exactly the scale smell
    // the q98 convention exists to avoid, and pre-period bucketing
    // keeps the stratum assignment untouched by treatment), outcome is
    // any post-cut purchase, arms are the q249 p60 split. Everything
    // is exact counts; per-stratum uplift and its pooled ALL row (a
    // rollup) are final divisions. An empty arm in a stratum yields
    // NULL uplift, not a throw.
    GraftQuery(
      "q285_uplift_strata",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val mn = ev.agg(min(to_date(col("ts"))).as("d0"))
        val base = ev.crossJoin(broadcast(mn))
          .groupBy(col("user_id"))
          .agg(
            sum(when(to_date(col("ts")) < date_add(col("d0"), 14), 1L)
              .otherwise(0L)).as("pre_n"),
            max(when(to_date(col("ts")) >= date_add(col("d0"), 14) &&
              col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
          .select(
            pmod(Portable.p60(col("user_id").cast("string")), lit(2)).as("arm"),
            when(col("pre_n") === 0, "0: none")
              .when(col("pre_n") <= 2, "1: 1-2")
              .when(col("pre_n") <= 5, "2: 3-5")
              .when(col("pre_n") <= 10, "3: 6-10")
              .otherwise("4: 11+").as("stratum"),
            col("conv"))
        base.rollup(col("stratum"))
          .agg(
            sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
            sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("k_c"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
            sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("k_t"))
          .select(coalesce(col("stratum"), lit("ALL")).as("stratum"),
            col("n_c"), col("k_c"), col("n_t"), col("k_t"),
            when(col("n_c") > 0 && col("n_t") > 0,
              round(col("k_t").cast("double") / col("n_t").cast("double") -
                col("k_c").cast("double") / col("n_c").cast("double"), 6))
              .as("uplift"))
          .orderBy(col("stratum"))
      },
      Some(s"""WITH ev AS (SELECT user_id, ts, event_type FROM events
                          WHERE user_id IS NOT NULL),
               mn AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM ev),
               u AS (SELECT user_id,
                       CAST(sum(CASE WHEN CAST(ts AS DATE) < d0 + 14
                         THEN 1 ELSE 0 END) AS BIGINT) AS pre_n,
                       CAST(max(CASE WHEN CAST(ts AS DATE) >= d0 + 14
                         AND event_type = 'purchase' THEN 1 ELSE 0 END)
                         AS BIGINT) AS conv
                     FROM ev CROSS JOIN mn GROUP BY 1),
               b AS (SELECT (${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                              AS arm,
                            CASE WHEN pre_n = 0 THEN '0: none'
                                 WHEN pre_n <= 2 THEN '1: 1-2'
                                 WHEN pre_n <= 5 THEN '2: 3-5'
                                 WHEN pre_n <= 10 THEN '3: 6-10'
                                 ELSE '4: 11+' END AS stratum,
                            conv
                     FROM u),
               r AS (SELECT coalesce(stratum, 'ALL') AS stratum,
                       CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                       CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS k_c,
                       CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                       CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS k_t
                     FROM b GROUP BY ROLLUP (stratum))
               SELECT stratum, n_c, k_c, n_t, k_t,
                      CASE WHEN n_c > 0 AND n_t > 0 THEN
                        round(CAST(k_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                          - CAST(k_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
                      END AS uplift
               FROM r ORDER BY stratum""")),

    // ---- Kaplan-Meier survival over time-to-first-conversion — the
    // censoring-correct version of "median time to purchase": users
    // who haven't converted by the 72 h horizon are CENSORED, which a
    // naive average silently drops or (worse) treats as converted-at-
    // horizon. Risk sets are a suffix sum over the ≤73-row hour
    // histogram (bounded domain, the q98 convention); S(t) =
    // Π(1 − d/n) over event times is a LEFT FOLD over the t-ascending
    // factor list (the q198/q201 sequential-recurrence convention:
    // Spark aggregate() and DuckDB list_reduce replay the identical
    // IEEE multiply sequence, seeded CAST(1.0 AS DOUBLE); the prefix
    // products are O(|t|²) multiplies over a ≤73-element list —
    // nothing at any SF). Integer-exact until each factor's single
    // division. Emits one row per event time: t, n_risk, d, c
    // (censored leaving risk AT t), surv 6dp.
    GraftQuery(
      "q250_kaplan_meier",
      (s, d) => graft.ops.Survival.kaplanMeier(
          conversion72(s, d), col("t"), col("event"))
        .orderBy(col("t")),
      Some(s"""WITH $conversion72Sql,
               hist AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt,
                               CAST(sum(CASE WHEN event THEN 1 ELSE 0 END)
                                 AS BIGINT) AS d
                        FROM lab GROUP BY 1),
               risk AS (SELECT t,
                               CAST(sum(cnt) OVER (ORDER BY t DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS n_risk,
                               d, cnt - d AS c
                        FROM hist),
               evt AS (SELECT t, n_risk, d, c,
                              CAST(n_risk - d AS DOUBLE)
                                / CAST(n_risk AS DOUBLE) AS factor
                       FROM risk WHERE d > 0),
               ls AS (SELECT list_sort(list(struct_pack(
                        t := t, n_risk := n_risk, d := d, c := c,
                        factor := factor))) AS l
                      FROM evt)
               SELECT l[i].t AS t, l[i].n_risk AS n_risk,
                      l[i].d AS d, CAST(l[i].c AS BIGINT) AS c,
                      round(list_reduce(
                        [CAST(1.0 AS DOUBLE)] ||
                          list_transform(l[1:i], x -> x.factor),
                        (a, b) -> a * b), 6) AS surv
               FROM ls, unnest(range(1, len(l) + 1)) AS u(i)
               ORDER BY t""")),

    // ---- path-to-conversion mining: the three events IMMEDIATELY
    // preceding each purchase, as an ordered path string — the funnel
    // family's forensic cousin (q220 asks "how many reach step k";
    // this asks "which routes actually end in conversion"). Three
    // lag() reads over ONE per-user window (single hash exchange +
    // per-partition sort, the q196 one-exchange discipline — NOT a
    // self-join per offset), counted and cut top-20 with a full
    // (count DESC, path) total order so equal-count paths can't
    // reorder between engines. Purchases with fewer than 3
    // predecessors are excluded on both sides (p3 IS NOT NULL). All
    // integers + strings — no float anywhere.
    GraftQuery(
      "q253_purchase_paths",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .select(col("event_type"),
            lag(col("event_type"), 3).over(w).as("p3"),
            lag(col("event_type"), 2).over(w).as("p2"),
            lag(col("event_type"), 1).over(w).as("p1"))
          .filter(col("event_type") === "purchase" && col("p3").isNotNull)
          .select(concat_ws(">", col("p3"), col("p2"), col("p1")).as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path"))
          .limit(20)
      },
      Some("""WITH ev AS (SELECT user_id, event_type, ts, event_id
                          FROM events WHERE user_id IS NOT NULL),
              lagged AS (SELECT event_type,
                                lag(event_type, 3) OVER w AS p3,
                                lag(event_type, 2) OVER w AS p2,
                                lag(event_type, 1) OVER w AS p1
                         FROM ev
                         WINDOW w AS (PARTITION BY user_id
                                      ORDER BY ts, event_id))
              SELECT p3 || '>' || p2 || '>' || p1 AS path,
                     CAST(count(*) AS BIGINT) AS n
              FROM lagged
              WHERE event_type = 'purchase' AND p3 IS NOT NULL
              GROUP BY 1 ORDER BY n DESC, path LIMIT 20""")),

    // ---- first-touch vs last-touch attribution — the two credit
    // models every marketing read-out argues about, computed
    // visit-scoped in ONE user-keyed window. The visit gap is 24 h,
    // matched to this generator's event density (~3 events/user/day;
    // a 30-min gap — q68's streaming session width — makes nearly
    // every event its own singleton session and purchases self-credit
    // 96% of the time, attribution-vacuous): session
    // starts are gap > 24 h (integer epoch-micros compare), the
    // session's first touch rides forward as last_value(IGNORE NULLS)
    // of the boundary rows, and the last touch is lag(1) nulled at
    // boundaries — so no (user, session) re-exchange is ever planned
    // (the q196 one-exchange discipline; a groupBy(user, sid) face
    // would hash-shuffle a second time for the same answer). A
    // session-opening purchase credits itself on both models (direct
    // conversion). Output per touch type: credits under each model and
    // the delta — the disagreement IS the finding. All integers.
    GraftQuery(
      "q262_touch_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val sessioned = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
          .withColumn("gap_us", unix_micros(col("ts")) -
            unix_micros(lag(col("ts"), 1).over(w)))
          .withColumn("boundary",
            col("gap_us").isNull || col("gap_us") > lit(86400000000L))
          .withColumn("first_touch",
            last(when(col("boundary"), col("event_type")), ignoreNulls = true)
              .over(w))
          .withColumn("last_touch",
            when(col("boundary"), col("event_type"))
              .otherwise(lag(col("event_type"), 1).over(w)))
        val purchases = sessioned.filter(col("event_type") === "purchase")
        val ft = purchases.groupBy(col("first_touch").as("touch"))
          .agg(count(lit(1)).as("first_touch_credits"))
        val lt = purchases.groupBy(col("last_touch").as("touch2"))
          .agg(count(lit(1)).as("last_touch_credits"))
        ft.join(lt, col("touch") === col("touch2"), "full_outer")
          .select(coalesce(col("touch"), col("touch2")).as("touch"),
            coalesce(col("first_touch_credits"), lit(0L))
              .as("first_touch_credits"),
            coalesce(col("last_touch_credits"), lit(0L))
              .as("last_touch_credits"))
          .withColumn("delta",
            col("first_touch_credits") - col("last_touch_credits"))
          .orderBy(col("touch"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, ts, event_id
                          FROM events WHERE user_id IS NOT NULL),
              sess AS (SELECT user_id, ts, event_id, event_type,
                              (gap_us IS NULL OR gap_us > 86400000000)
                                AS boundary,
                              prev_type
                       FROM (SELECT user_id, ts, event_id, event_type,
                                    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w)
                                      AS gap_us,
                                    lag(event_type, 1) OVER w AS prev_type
                             FROM ev
                             WINDOW w AS (PARTITION BY user_id
                                          ORDER BY ts, event_id))),
              marked AS (SELECT event_type,
                                last_value(CASE WHEN boundary
                                    THEN event_type END IGNORE NULLS)
                                  OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS first_touch,
                                CASE WHEN boundary THEN event_type
                                     ELSE prev_type END AS last_touch
                         FROM sess),
              p AS (SELECT * FROM marked WHERE event_type = 'purchase'),
              ft AS (SELECT first_touch AS touch,
                            CAST(count(*) AS BIGINT) AS fc
                     FROM p GROUP BY 1),
              lt AS (SELECT last_touch AS touch,
                            CAST(count(*) AS BIGINT) AS lc
                     FROM p GROUP BY 1)
              SELECT COALESCE(ft.touch, lt.touch) AS touch,
                     COALESCE(ft.fc, 0) AS first_touch_credits,
                     COALESCE(lt.lc, 0) AS last_touch_credits,
                     CAST(COALESCE(ft.fc, 0) - COALESCE(lt.lc, 0) AS BIGINT)
                       AS delta
              FROM ft FULL OUTER JOIN lt ON lt.touch = ft.touch
              ORDER BY touch""")),

    // ---- burstiness (variance-to-mean dispersion) per user — the bot
    // signal: organic activity over D days is Poisson-ish (VMR ≈ 1), a
    // scripted account dumps its events into a few days (VMR >> 1) or
    // metronomes one per day (VMR ≈ 0). Zero-days COUNT: mean and
    // variance run over the full D-day observation span (D from a
    // 1-row broadcast), not just active days — a user active 2 of 30
    // days IS the signal, so per-(user, day) counts carry Σc and Σc²
    // and the math fills the zeros implicitly. VMR = (D·Σc² − (Σc)²)
    // / (D·Σc): exact integer numerator and denominator, ONE division
    // (population variance / mean, algebra pre-cleared of the double
    // division). Top-20 by (VMR DESC, user) as TakeOrderedAndProject.
    GraftQuery(
      "q265_burstiness",
      (s, d) => {
        val perDay = t(s, d, "events").filter(col("user_id").isNotNull)
          .groupBy(col("user_id"), to_date(col("ts")).as("dy"))
          .agg(count(lit(1)).as("c"))
        val span = t(s, d, "events")
          .agg((datediff(max(to_date(col("ts"))), min(to_date(col("ts"))))
            + lit(1)).cast("long").as("bigD"))
        perDay.groupBy(col("user_id"))
          .agg(sum(col("c")).as("sc"), sum(col("c") * col("c")).as("scc"),
            count(lit(1)).as("active_days"))
          .crossJoin(broadcast(span))
          .select(col("user_id"), col("sc").as("n_events"),
            col("active_days"),
            round((col("bigD").cast("double") * col("scc").cast("double") -
                col("sc").cast("double") * col("sc").cast("double")) /
              (col("bigD").cast("double") * col("sc").cast("double")), 6)
              .as("vmr"))
          .orderBy(col("vmr").desc, col("user_id"))
          .limit(20)
      },
      Some("""WITH pd AS (SELECT user_id, CAST(ts AS DATE) AS dy,
                     CAST(count(*) AS BIGINT) AS c
                   FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2),
              sp AS (SELECT CAST(date_diff('day', min(CAST(ts AS DATE)),
                       max(CAST(ts AS DATE))) + 1 AS BIGINT) AS bigD
                     FROM events),
              u AS (SELECT user_id, CAST(sum(c) AS BIGINT) AS sc,
                           CAST(sum(c * c) AS BIGINT) AS scc,
                           CAST(count(*) AS BIGINT) AS active_days
                    FROM pd GROUP BY 1)
              SELECT user_id, sc AS n_events, active_days,
                     round((CAST(bigD AS DOUBLE) * CAST(scc AS DOUBLE)
                         - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
                       / (CAST(bigD AS DOUBLE) * CAST(sc AS DOUBLE)), 6)
                       AS vmr
              FROM u CROSS JOIN sp
              ORDER BY vmr DESC, user_id LIMIT 20""")),

    // ---- cohort LTV accumulation (the revenue triangle) — q219's
    // retention counts upgraded to VALUE: per signup-week cohort, the
    // cumulative purchase value per user at each week-since-signup.
    // The triangle is what makes young and old cohorts comparable (a
    // 1-week-old cohort is only read at offset 0). Purchase value
    // enters as floor-cent longs (the engine-exactness convention for
    // money sums — a double sum's accumulation order is not portable);
    // cohort assignment and week offsets are integer date arithmetic
    // (both engines truncate weeks to Monday); the cumulative window
    // runs per cohort over ≤|weeks| offsets (bounded domain). The one
    // division — cum cents / cohort size — is exact-integer inputs.
    GraftQuery(
      "q266_cohort_ltv",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val cohort = ev.groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).cast("date").as("cw"))
          .localCheckpoint(true) // |users| rows; size + join below
        val sizes = cohort.groupBy(col("cw")).agg(count(lit(1)).as("n_users"))
        val weekly = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("ew"),
            floor(col("value") * 100).cast("long").as("vc"))
          .join(cohort, "user_id")
          .groupBy(col("cw"),
            expr("datediff(ew, cw) DIV 7").cast("int").as("k"))
          .agg(sum(col("vc")).as("week_cents"))
        val wCum = Window.partitionBy(col("cw")).orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        weekly
          .select(col("cw").cast("string").as("cohort_week"), col("cw"),
            col("k"), col("week_cents"),
            sum(col("week_cents")).over(wCum).as("cum_cents"))
          .join(broadcast(sizes), "cw")
          .select(col("cohort_week"), col("k"), col("n_users"),
            col("week_cents"), col("cum_cents"),
            round(col("cum_cents").cast("double") /
              col("n_users").cast("double"), 6).as("ltv_cents_per_user"))
          .orderBy(col("cohort_week"), col("k"))
      },
      Some("""WITH ev AS (SELECT user_id, event_type, ts, value
                          FROM events WHERE user_id IS NOT NULL),
              cohort AS (SELECT user_id,
                                CAST(date_trunc('week', min(ts)) AS DATE)
                                  AS cw
                         FROM ev GROUP BY 1),
              sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users
                        FROM cohort GROUP BY 1),
              weekly AS (SELECT c.cw,
                                CAST(date_diff('day', c.cw,
                                  CAST(date_trunc('week', e.ts) AS DATE))
                                  // 7 AS INTEGER) AS k,
                                CAST(sum(CAST(floor(e.value * 100)
                                  AS BIGINT)) AS BIGINT) AS week_cents
                         FROM ev e JOIN cohort c ON c.user_id = e.user_id
                         WHERE e.event_type = 'purchase'
                         GROUP BY 1, 2),
              cum AS (SELECT cw, k, week_cents,
                             CAST(sum(week_cents) OVER (PARTITION BY cw
                               ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cum_cents
                      FROM weekly)
              SELECT CAST(cum.cw AS VARCHAR) AS cohort_week, cum.k,
                     s.n_users, cum.week_cents, cum.cum_cents,
                     round(CAST(cum.cum_cents AS DOUBLE)
                       / CAST(s.n_users AS DOUBLE), 6)
                       AS ltv_cents_per_user
              FROM cum JOIN sizes s ON s.cw = cum.cw
              ORDER BY cohort_week, k""")),

    // ---- survival curves BY experiment arm (Survival.
    // kaplanMeierGrouped) — q249's hash-assigned arms under q250's
    // time-to-conversion lens: the side-by-side curves that show WHERE
    // in time two arms diverge, which the single conversion-rate
    // z-test compresses away. Same bounded-domain suffix windows and
    // defined-order folds, partitioned per arm.
    GraftQuery(
      "q267_km_by_arm",
      (s, d) => graft.ops.Survival.kaplanMeierGrouped(
          conversion72(s, d).select(
            pmod(Portable.p60(col("user_id").cast("string")), lit(2))
              .as("arm"), col("t"), col("event")),
          col("arm"), col("t"), col("event"))
        .select(col("grp").cast("int").as("arm"), col("t"), col("n_risk"),
          col("d"), col("c"), col("surv"))
        .orderBy(col("arm"), col("t")),
      Some(s"""WITH $conversion72Sql,
               armed AS (SELECT
                     CAST((${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                       AS INTEGER) AS arm, t, event
                   FROM lab),
               hist AS (SELECT arm, t, CAST(count(*) AS BIGINT) AS cnt,
                               CAST(sum(CASE WHEN event THEN 1 ELSE 0 END)
                                 AS BIGINT) AS d
                        FROM armed GROUP BY 1, 2),
               risk AS (SELECT arm, t,
                               CAST(sum(cnt) OVER (PARTITION BY arm
                                 ORDER BY t DESC ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS BIGINT)
                                 AS n_risk,
                               d, cnt - d AS c
                        FROM hist),
               evt AS (SELECT arm, t, n_risk, d, c,
                              CAST(n_risk - d AS DOUBLE)
                                / CAST(n_risk AS DOUBLE) AS factor
                       FROM risk WHERE d > 0),
               ls AS (SELECT arm, list_sort(list(struct_pack(
                        t := t, n_risk := n_risk, d := d, c := c,
                        factor := factor))) AS l
                      FROM evt GROUP BY 1)
               SELECT arm, l[i].t AS t, l[i].n_risk AS n_risk,
                      l[i].d AS d, CAST(l[i].c AS BIGINT) AS c,
                      round(list_reduce(
                        [CAST(1.0 AS DOUBLE)] ||
                          list_transform(l[1:i], x -> x.factor),
                        (a, b) -> a * b), 6) AS surv
               FROM ls, unnest(range(1, len(l) + 1)) AS u(i)
               ORDER BY arm, t""")),

    // ---- two-sample log-rank test (Survival.logRank) — the
    // significance read-out for q267's curves: z = Σ(O−E)/sqrt(ΣV)
    // with hypergeometric E and V at each pooled event time. Arms are
    // the same deterministic hash assignment, so by construction this
    // is a NULL experiment — |z| should be small, and `different`
    // false: the negative control that validates the machinery (a
    // significant null would mean broken arithmetic or assignment
    // bias). Verdict gated on the UNROUNDED z (q214 discipline).
    GraftQuery(
      "q268_logrank",
      (s, d) => graft.ops.Survival.logRank(
          conversion72(s, d).select(
            pmod(Portable.p60(col("user_id").cast("string")), lit(2))
              .as("arm"), col("t"), col("event")),
          col("arm"), col("t"), col("event")),
      Some(s"""WITH $conversion72Sql,
               armed AS (SELECT
                     CAST((${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                       AS INTEGER) AS g, t, event
                   FROM lab),
               hist AS (SELECT t,
                     CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS cnt1,
                     CAST(sum(CASE WHEN g <> 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS cnt2,
                     CAST(sum(CASE WHEN g = 1 AND event THEN 1 ELSE 0 END)
                       AS BIGINT) AS d1,
                     CAST(sum(CASE WHEN g <> 1 AND event THEN 1 ELSE 0 END)
                       AS BIGINT) AS d2
                   FROM armed GROUP BY 1),
               risk AS (SELECT t,
                     CAST(sum(cnt1) OVER w AS BIGINT) AS n1,
                     CAST(sum(cnt2) OVER w AS BIGINT) AS n2,
                     d1, d2
                   FROM hist
                   WINDOW w AS (ORDER BY t DESC ROWS BETWEEN UNBOUNDED
                                PRECEDING AND CURRENT ROW)),
               ls AS (SELECT list_sort(list(struct_pack(t := t, n1 := n1,
                        n2 := n2, d1 := d1, d2 := d2))) AS l
                      FROM risk WHERE d1 + d2 > 0),
               s AS (SELECT list_reduce(
                       list_prepend(struct_pack(n1 := CAST(0 AS BIGINT),
                         n2 := CAST(0 AS BIGINT), d1 := CAST(0 AS BIGINT),
                         d2 := CAST(0 AS BIGINT), oe := CAST(0.0 AS DOUBLE),
                         v := CAST(0.0 AS DOUBLE)),
                         list_transform(l, e -> struct_pack(
                           n1 := e.n1, n2 := e.n2, d1 := e.d1, d2 := e.d2,
                           oe := CAST(e.d1 AS DOUBLE)
                             - CAST((e.d1 + e.d2) * e.n1 AS DOUBLE)
                               / CAST(e.n1 + e.n2 AS DOUBLE),
                           v := CASE WHEN e.n1 + e.n2 > 1
                             THEN CAST((e.d1 + e.d2) * e.n1 AS DOUBLE)
                               / CAST(e.n1 + e.n2 AS DOUBLE)
                               * (CAST(e.n2 AS DOUBLE)
                                 / CAST(e.n1 + e.n2 AS DOUBLE))
                               * (CAST(e.n1 + e.n2 - (e.d1 + e.d2) AS DOUBLE)
                                 / CAST(e.n1 + e.n2 - 1 AS DOUBLE))
                             ELSE CAST(0.0 AS DOUBLE) END))),
                       (a, e) -> struct_pack(
                         n1 := greatest(a.n1, e.n1),
                         n2 := greatest(a.n2, e.n2),
                         d1 := a.d1 + e.d1, d2 := a.d2 + e.d2,
                         oe := a.oe + e.oe,
                         v := a.v + e.v)) AS st
                     FROM ls)
               SELECT CAST(st.n1 AS BIGINT) AS n1,
                      CAST(st.n2 AS BIGINT) AS n2,
                      CAST(st.d1 AS BIGINT) AS d1,
                      CAST(st.d2 AS BIGINT) AS d2,
                      CASE WHEN st.v > 0
                           THEN round(st.oe / sqrt(st.v), 6) END AS z,
                      CASE WHEN st.v > 0
                           THEN round(st.oe * st.oe / st.v, 6) END AS chi2,
                      COALESCE(CASE WHEN st.v > 0
                        THEN abs(st.oe / sqrt(st.v)) > CAST(1.96 AS DOUBLE)
                        END, false) AS different
               FROM s""")),

    // ---- CUPED variance reduction — the modern experimentation
    // workhorse: adjust each user's experiment-period metric by their
    // PRE-period behaviour (theta = cov(pre, post)/var(pre)) so that
    // stable heavy-spenders stop inflating the arm variance; the
    // adjusted arm difference has the same expectation with rho² of
    // the variance removed. EVERYTHING derives from six per-arm
    // integer sums: per-user pre/post value enters as floor-cent
    // longs, Σx/Σy/Σxy/Σx²/Σy² stay in longs (products < 2^63 here;
    // at 1e10-user scale rescale cents to dollars upstream), and
    // theta, the adjusted means — mean_post(arm) − theta·(mean_pre
    // (arm) − mean_pre(all)) — and rho² are short identical-
    // association IEEE chains on those exact sums. No per-user double
    // arithmetic anywhere, so the whole read-out is engine-exact
    // before its 6dp reporting round.
    GraftQuery(
      "q269_cuped",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val bounds = ev.agg(date_add(min(to_date(col("ts"))), 15).as("cut"))
        val perUser = ev.crossJoin(broadcast(bounds))
          .groupBy(col("user_id"))
          .agg(sum(when(to_date(col("ts")) < col("cut"),
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("x"),
            sum(when(to_date(col("ts")) >= col("cut"),
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
          .select(pmod(Portable.p60(col("user_id").cast("string")), lit(2))
            .as("arm"), col("x"), col("y"))
        val agg = perUser.agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("arm") === 0, col("x")).otherwise(0L)).as("sx_a"),
          sum(when(col("arm") === 0, col("y")).otherwise(0L)).as("sy_a"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("arm") === 1, col("x")).otherwise(0L)).as("sx_b"),
          sum(when(col("arm") === 1, col("y")).otherwise(0L)).as("sy_b"))
        def dd(c: org.apache.spark.sql.Column) = c.cast("double")
        val covN = dd(col("n")) * dd(col("sxy")) - dd(col("sx")) * dd(col("sy"))
        val varXN = dd(col("n")) * dd(col("sxx")) - dd(col("sx")) * dd(col("sx"))
        val varYN = dd(col("n")) * dd(col("syy")) - dd(col("sy")) * dd(col("sy"))
        val theta = covN / varXN
        val meanXAll = dd(col("sx")) / dd(col("n"))
        val adjA = dd(col("sy_a")) / dd(col("n_a")) -
          theta * (dd(col("sx_a")) / dd(col("n_a")) - meanXAll)
        val adjB = dd(col("sy_b")) / dd(col("n_b")) -
          theta * (dd(col("sx_b")) / dd(col("n_b")) - meanXAll)
        agg.select(col("n_a"), col("n_b"),
          round(theta, 6).as("theta"),
          round(dd(col("sy_b")) / dd(col("n_b")) -
            dd(col("sy_a")) / dd(col("n_a")), 6).as("raw_diff_cents"),
          round(adjB - adjA, 6).as("cuped_diff_cents"),
          round(covN * covN / (varXN * varYN), 6).as("rho2"))
      },
      Some(s"""WITH ev AS (SELECT user_id, ts, value FROM events
                           WHERE user_id IS NOT NULL),
               b AS (SELECT min(CAST(ts AS DATE)) + 15 AS cut FROM ev),
               pu AS (SELECT user_id,
                        CAST(sum(CASE WHEN CAST(ts AS DATE) < cut
                          THEN CAST(floor(value * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS x,
                        CAST(sum(CASE WHEN CAST(ts AS DATE) >= cut
                          THEN CAST(floor(value * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS y
                      FROM ev CROSS JOIN b GROUP BY 1),
               armed AS (SELECT
                     (${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                       AS arm, x, y
                   FROM pu),
               a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(x) AS BIGINT) AS sx,
                       CAST(sum(y) AS BIGINT) AS sy,
                       CAST(sum(x * y) AS BIGINT) AS sxy,
                       CAST(sum(x * x) AS BIGINT) AS sxx,
                       CAST(sum(y * y) AS BIGINT) AS syy,
                       CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_a,
                       CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END)
                         AS BIGINT) AS sx_a,
                       CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END)
                         AS BIGINT) AS sy_a,
                       CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_b,
                       CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END)
                         AS BIGINT) AS sx_b,
                       CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END)
                         AS BIGINT) AS sy_b
                     FROM armed),
               c AS (SELECT a.*,
                       CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
                       CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
                       CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn,
                       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mxall
                     FROM a)
               SELECT n_a, n_b,
                      round(covn / varxn, 6) AS theta,
                      round(CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                        - CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6)
                        AS raw_diff_cents,
                      round((CAST(sy_b AS DOUBLE) / CAST(n_b AS DOUBLE)
                          - covn / varxn * (CAST(sx_b AS DOUBLE)
                            / CAST(n_b AS DOUBLE) - mxall))
                        - (CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                          - covn / varxn * (CAST(sx_a AS DOUBLE)
                            / CAST(n_a AS DOUBLE) - mxall)), 6)
                        AS cuped_diff_cents,
                      round(covn * covn / (varxn * varyn), 6) AS rho2
               FROM c""")),

    // ---- sample-ratio mismatch (SRM) — the A/B hygiene gate that
    // runs BEFORE any metric is read: if a 50/50 hash split didn't
    // produce ~50/50 arms, the assignment or logging pipeline is
    // broken and every downstream read-out (q249/q267/q268/q269) is
    // untrustworthy. One-degree chi² of arm counts vs the expected
    // even split: chi² = (n_a−E)²/E + (n_b−E)²/E with E = n/2 —
    // exact-integer inputs, three IEEE ops, threshold 3.84 on the
    // UNROUNDED statistic. The deterministic hash split should PASS
    // (mismatch=false) — this is the negative control of the suite.
    GraftQuery(
      "q270_srm_check",
      (s, d) => {
        val agg = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id")).distinct()
          .select(pmod(Portable.p60(col("user_id").cast("string")), lit(2))
            .as("arm"))
          .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
        val e = (col("n_a") + col("n_b")).cast("double") / lit(2)
        val chi2 = (col("n_a").cast("double") - e) *
          (col("n_a").cast("double") - e) / e +
          (col("n_b").cast("double") - e) * (col("n_b").cast("double") - e) / e
        agg.select(col("n_a"), col("n_b"), round(chi2, 6).as("chi2"),
          (chi2 > lit(3.84)).as("mismatch"))
      },
      Some(s"""WITH u AS (SELECT DISTINCT user_id FROM events
                          WHERE user_id IS NOT NULL),
               a AS (SELECT
                       CAST(sum(CASE WHEN
                         (${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                           = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                       CAST(sum(CASE WHEN
                         (${Portable.p60Sql("CAST(user_id AS VARCHAR)")}) % 2
                           = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
                     FROM u),
               c AS (SELECT n_a, n_b,
                       (CAST(n_a AS DOUBLE)
                         - CAST(n_a + n_b AS DOUBLE) / 2)
                       * (CAST(n_a AS DOUBLE)
                         - CAST(n_a + n_b AS DOUBLE) / 2)
                       / (CAST(n_a + n_b AS DOUBLE) / 2)
                       + (CAST(n_b AS DOUBLE)
                         - CAST(n_a + n_b AS DOUBLE) / 2)
                       * (CAST(n_b AS DOUBLE)
                         - CAST(n_a + n_b AS DOUBLE) / 2)
                       / (CAST(n_a + n_b AS DOUBLE) / 2) AS chi2
                     FROM a)
               SELECT n_a, n_b, round(chi2, 6) AS chi2,
                      chi2 > CAST(3.84 AS DOUBLE) AS mismatch
               FROM c""")),

    // ---- recommendation coverage & novelty — the beyond-accuracy
    // metrics q216's precision/NDCG can't see: a recommender that
    // shows everyone the same 5 bestsellers scores fine on accuracy
    // while strip-mining the catalog. Catalog coverage = distinct
    // recommended items / catalog; novelty = mean −log2(popularity
    // share) of recommended items (high = recommending from the tail),
    // computed per REC ROW so popular-item repetition is penalized.
    // The rec list is q216's (same split, same tie order); popularity
    // shares are exact integer ratios; log2 runs on identical rational
    // doubles (the q216 libm precedent) and the novelty MEAN is a
    // defined-order fold over the collected ≤k·|users| novelty list —
    // never a distributed double sum.
    GraftQuery(
      "q271_rec_coverage",
      (s, d) => {
        val (ev, recList) = recEval(s, d)
        val recs = recList.select(col("user"), col("item"))
          .localCheckpoint(true) // k·|users| rows; three consumers
        val pop = ev.groupBy(col("item")).agg(count(lit(1)).as("pc"))
          .localCheckpoint(true)
        val catalog = pop.agg(count(lit(1)).as("n_catalog"),
          sum(col("pc")).as("n_inter"))
        val novelties = recs.join(broadcast(pop), "item")
          .crossJoin(broadcast(catalog))
          .select((-log2(col("pc").cast("double") /
            col("n_inter").cast("double"))).as("nov"))
        novelties
          .agg(array_sort(collect_list(col("nov"))).as("ls"),
            count(lit(1)).as("n_recs"))
          .crossJoin(broadcast(recs.agg(
            countDistinct(col("item")).as("n_rec_items"))))
          .crossJoin(broadcast(catalog))
          .select(col("n_recs"), col("n_rec_items"), col("n_catalog"),
            round(col("n_rec_items").cast("double") /
              col("n_catalog").cast("double"), 6).as("catalog_coverage"),
            round(expr(
              "aggregate(ls, CAST(0.0 AS DOUBLE), (a, x) -> a + x)") /
              col("n_recs").cast("double"), 6).as("mean_novelty"))
      },
      Some(s"""WITH $recEvalSql,
              pop AS (SELECT item, CAST(count(*) AS BIGINT) AS pc
                      FROM ev GROUP BY 1),
              cat AS (SELECT CAST(count(*) AS BIGINT) AS n_catalog,
                             CAST(sum(pc) AS BIGINT) AS n_inter FROM pop),
              nov AS (SELECT -log2(CAST(p.pc AS DOUBLE)
                        / CAST(cat.n_inter AS DOUBLE)) AS nv
                      FROM recs r JOIN pop p ON p.item = r.item
                      CROSS JOIN cat),
              ls AS (SELECT list_sort(list(nv)) AS l,
                            CAST(count(*) AS BIGINT) AS n_recs FROM nov),
              ri AS (SELECT CAST(count(DISTINCT item) AS BIGINT)
                       AS n_rec_items FROM recs)
              SELECT ls.n_recs, ri.n_rec_items, cat.n_catalog,
                     round(CAST(ri.n_rec_items AS DOUBLE)
                       / CAST(cat.n_catalog AS DOUBLE), 6)
                       AS catalog_coverage,
                     round(list_reduce(
                         list_prepend(CAST(0.0 AS DOUBLE), ls.l),
                         (a, b) -> a + b)
                       / CAST(ls.n_recs AS DOUBLE), 6) AS mean_novelty
              FROM ls CROSS JOIN ri CROSS JOIN cat""")),

    // ---- Kaplan-Meier with Greenwood 95% bands (Survival.
    // kaplanMeierCi) — q250's curve plus the uncertainty that says
    // whether a late-horizon drop is signal or a 20-subject risk set
    // being noisy. The Greenwood sum is a SECOND defined-order prefix
    // fold over the SAME collected factor list (running product and
    // running sum, one list); the d = n terminal edge emits NULL
    // se/bands on both engines, never Inf.
    GraftQuery(
      "q272_km_greenwood",
      (s, d) => graft.ops.Survival.kaplanMeierCi(
          graft.ops.Survival.histState(
            conversion72(s, d), col("t"), col("event")))
        .orderBy(col("t")),
      Some(s"""WITH $conversion72Sql,
               hist AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt,
                               CAST(sum(CASE WHEN event THEN 1 ELSE 0 END)
                                 AS BIGINT) AS d
                        FROM lab GROUP BY 1),
               risk AS (SELECT t,
                               CAST(sum(cnt) OVER (ORDER BY t DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS BIGINT) AS n_risk,
                               d, cnt - d AS c
                        FROM hist),
               evt AS (SELECT t, n_risk, d, c,
                              CAST(n_risk - d AS DOUBLE)
                                / CAST(n_risk AS DOUBLE) AS factor,
                              CASE WHEN n_risk - d > 0
                                THEN CAST(d AS DOUBLE)
                                  / (CAST(n_risk AS DOUBLE)
                                    * CAST(n_risk - d AS DOUBLE))
                              END AS gterm
                       FROM risk WHERE d > 0),
               ls AS (SELECT list_sort(list(struct_pack(
                        t := t, n_risk := n_risk, d := d, c := c,
                        factor := factor, gterm := gterm))) AS l
                      FROM evt)
               SELECT l[i].t AS t, l[i].n_risk AS n_risk,
                      l[i].d AS d, CAST(l[i].c AS BIGINT) AS c,
                      round(sv, 6) AS surv,
                      round(sv * sqrt(gs), 6) AS se,
                      round(greatest(CAST(0.0 AS DOUBLE),
                        sv - CAST(1.96 AS DOUBLE) * (sv * sqrt(gs))), 6)
                        AS lo95,
                      round(least(CAST(1.0 AS DOUBLE),
                        sv + CAST(1.96 AS DOUBLE) * (sv * sqrt(gs))), 6)
                        AS hi95
               FROM (SELECT l, i,
                            list_reduce([CAST(1.0 AS DOUBLE)] ||
                              list_transform(l[1:i], x -> x.factor),
                              (a, b) -> a * b) AS sv,
                            list_reduce([CAST(0.0 AS DOUBLE)] ||
                              list_transform(l[1:i], x -> x.gterm),
                              (a, b) -> a + b) AS gs
                     FROM ls, unnest(range(1, len(l) + 1)) AS u(i))
               ORDER BY t""")),

    // ---- power analysis — the experimentation loop's DESIGN half:
    // q249 analyzes the experiment you ran; this sizes the next one.
    // From the observed pooled conversion rate, the per-arm sample
    // size needed to detect a 5% RELATIVE lift at alpha = 0.05 with
    // 80% power: n = (z_{a/2} + z_b)² · 2·p̄(1−p̄) / δ², δ = 0.05·p̄
    // — and whether the CURRENT population is already big enough. All
    // inputs are two integer counts; the formula is one identical-
    // association IEEE chain with both z constants entering as casts
    // (1.959964, 0.841621 — the standard two-sided-0.05/power-0.80
    // quantiles); n_required is ceil'd to an exact integer on
    // identical doubles. `powered` gates on the UNROUNDED comparison.
    GraftQuery(
      "q273_power_analysis",
      (s, d) => {
        val u = conversion72(s, d)
        val agg = u.agg(count(lit(1)).as("n_users"),
          sum(when(col("event"), 1L).otherwise(0L)).as("k_conv"))
        val p = col("k_conv").cast("double") / col("n_users").cast("double")
        val z = lit(1.959964) + lit(0.841621)
        val delta = lit(0.05) * p
        val nReq = ceil(z * z * (lit(2) * (p * (lit(1) - p))) /
          (delta * delta)).cast("long")
        agg.select(col("n_users"), col("k_conv"),
          round(p, 6).as("pool_rate"),
          round(delta, 6).as("delta_abs"),
          nReq.as("n_required_per_arm"),
          (col("n_users").cast("double") / lit(2) >=
            z * z * (lit(2) * (p * (lit(1) - p))) / (delta * delta))
            .as("powered"))
      },
      Some(s"""WITH $conversion72Sql,
               a AS (SELECT CAST(count(*) AS BIGINT) AS n_users,
                            CAST(sum(CASE WHEN event THEN 1 ELSE 0 END)
                              AS BIGINT) AS k_conv
                     FROM lab),
               c AS (SELECT n_users, k_conv,
                            CAST(k_conv AS DOUBLE) / CAST(n_users AS DOUBLE)
                              AS p,
                            CAST(1.959964 AS DOUBLE)
                              + CAST(0.841621 AS DOUBLE) AS z
                     FROM a)
               SELECT n_users, k_conv,
                      round(p, 6) AS pool_rate,
                      round(CAST(0.05 AS DOUBLE) * p, 6) AS delta_abs,
                      CAST(ceil(z * z * (2 * (p * (1 - p)))
                        / ((CAST(0.05 AS DOUBLE) * p)
                          * (CAST(0.05 AS DOUBLE) * p))) AS BIGINT)
                        AS n_required_per_arm,
                      (CAST(n_users AS DOUBLE) / 2 >=
                        z * z * (2 * (p * (1 - p)))
                        / ((CAST(0.05 AS DOUBLE) * p)
                          * (CAST(0.05 AS DOUBLE) * p))) AS powered
               FROM c""")),

    // ---- Poisson bootstrap CI for mean purchase spend — the
    // DISTRIBUTED bootstrap: classical resampling needs B passes over
    // shuffled data; the Poisson(1) trick (each row enters replicate b
    // with weight w ~ Poisson(1), independence across rows is exact in
    // the n→∞ limit) needs ONE scan. Weights are decided by comparing
    // the 60-bit hash of (event_id, b) against PRECOMPUTED integer
    // thresholds floor(CDF_Poisson(1)(k)·2⁶⁰) — pure long comparisons,
    // no float in the sampling path, identical literals both engines;
    // the w≥9 tail (p≈1.1e-6) is capped at 9 (bias ≪ CI width,
    // documented). Replicate means are exact-long Σwc/Σw single
    // divisions; the CI is an ORDER-STATISTIC pick (2nd/63rd of the 64
    // sorted means — a 96.9% percentile interval, no interpolation).
    // Scale: the 64× row inflation lives entirely between the scan and
    // the map-side partial aggregate — the exchange carries 64 rows
    // per task; the final sort is 64 values on one row. The one
    // degenerate guard (a replicate with Σw=0, p≈e^(-n)) nulls the
    // division explicitly to keep /0 semantics engine-aligned — and
    // both sides then FILTER the NULL means and take the upper bound
    // relative to the filtered length (Spark collect_list drops NULLs,
    // DuckDB list() keeps them NULLS-first: indexing off the constant
    // 64 would pick different order statistics exactly there).
    GraftQuery(
      "q286_poisson_bootstrap",
      (s, d) => graft.ops.Stats.poissonBootstrapCi(
        t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(col("event_id"),
            floor(col("value") * 100).cast("long").as("c")),
        col("event_id"), col("c")),
      Some("""WITH p AS (SELECT event_id,
                     CAST(floor(value * 100) AS BIGINT) AS c
                   FROM events WHERE event_type = 'purchase'),
              r AS (SELECT p.c, b.b,
                      ('0x' || substring(md5(p.event_id::VARCHAR || ':'
                        || b.b::VARCHAR), 1, 15))::BIGINT AS h
                    FROM p CROSS JOIN
                      (SELECT unnest(range(0, 64)) AS b) b),
              w AS (SELECT b, c,
                      CASE WHEN h < 424136118829305344 THEN 0
                           WHEN h < 848272237658610688 THEN 1
                           WHEN h < 1060340297073263360 THEN 2
                           WHEN h < 1131029650211480960 THEN 3
                           WHEN h < 1148701988496035328 THEN 4
                           WHEN h < 1152236456152946176 THEN 5
                           WHEN h < 1152825534095764608 THEN 6
                           WHEN h < 1152909688087595776 THEN 7
                           WHEN h < 1152920207336574720 THEN 8
                           ELSE 9 END AS w
                    FROM r),
              m AS (SELECT CASE WHEN CAST(sum(w) AS BIGINT) > 0
                      THEN CAST(sum(w * c) AS DOUBLE)
                           / CAST(sum(w) AS DOUBLE) END AS m
                    FROM w GROUP BY b),
              ms AS (SELECT list_sort(list(m)) AS ms FROM m
                     WHERE m IS NOT NULL),
              base AS (SELECT CAST(count(*) AS BIGINT) AS n,
                              CAST(sum(c) AS BIGINT) AS sc FROM p)
              SELECT n,
                     round(CAST(sc AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       AS mean_cents,
                     round(ms[2], 6) AS ci_lo,
                     round(ms[len(ms) - 1], 6) AS ci_hi
              FROM base CROSS JOIN ms""")),

    // ---- exact AUC (Mann-Whitney with tie handling) — does PAST
    // activity rank users by FUTURE conversion: score = non-purchase
    // events before the final week, label = any purchase inside it
    // (the q284 honest-split discipline applied to a ranking metric;
    // q216's NDCG ranks items per user, this ranks USERS by a scalar).
    // The pairwise definition is computed from per-SCORE-VALUE group
    // counts: 2U = Σ_g (2·p_g·negbelow_g + p_g·q_g) — wins double,
    // ties count once — ALL EXACT LONGS; AUC = 2U / (2·P·N) is one
    // division of exact integers (bit-identical, emitted unrounded).
    // Scale: the grouped frame has one row per DISTINCT score (an
    // activity count — domain bounded by max per-user activity, the
    // q98 bounded-domain window convention); no per-user sort, no
    // |users|² pair join anywhere.
    GraftQuery(
      "q287_auc",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val mx = ev.agg(max(to_date(col("ts"))).as("mxd"))
        val u = ev.crossJoin(broadcast(mx))
          .groupBy(col("user_id"))
          .agg(
            sum(when(to_date(col("ts")) <= date_sub(col("mxd"), 7) &&
              col("event_type") =!= "purchase", 1L).otherwise(0L)).as("score"),
            max(when(to_date(col("ts")) > date_sub(col("mxd"), 7) &&
              col("event_type") === "purchase", 1L).otherwise(0L)).as("pos"))
        graft.ops.Stats.auc(u, col("score"), col("pos"))
      },
      Some("""WITH mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events),
              u AS (SELECT user_id,
                      sum(CASE WHEN CAST(ts AS DATE) <= mxd - 7
                               AND event_type <> 'purchase'
                          THEN 1 ELSE 0 END) AS score,
                      max(CASE WHEN CAST(ts AS DATE) > mxd - 7
                               AND event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS pos
                    FROM events CROSS JOIN mx
                    WHERE user_id IS NOT NULL GROUP BY 1),
              g AS (SELECT score, CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(pos) AS BIGINT) AS p
                    FROM u GROUP BY 1),
              sx AS (SELECT p, n - p AS q,
                       CAST(COALESCE(sum(n - p) OVER (ORDER BY score
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS negbelow
                     FROM g),
              a AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
                           CAST(sum(p) AS BIGINT) AS n_pos,
                           CAST(sum(q) AS BIGINT) AS n_neg,
                           CAST(sum(2 * p * negbelow + p * q) AS BIGINT)
                             AS num2
                    FROM sx)
              SELECT n_groups, n_pos, n_neg,
                     CASE WHEN n_pos > 0 AND n_neg > 0
                          THEN CAST(num2 AS DOUBLE)
                               / CAST(2 * n_pos * n_neg AS DOUBLE) END AS auc
              FROM a""")),

    // ---- difference-in-differences — the panel estimator the A/B
    // family still lacked (q249 rates, q269 CUPED variance reduction,
    // q281 Welch on spend; DiD is the PRE-TREND-ROBUST causal read):
    // per-user purchase cents in the pre and post halves of the
    // calendar (exact midpoint cut), per-user delta d = post − pre (a
    // long), DiD = mean(d | treated) − mean(d | control) with a Welch
    // SE on d — exactly q281's three-longs-per-arm machinery applied
    // to the delta. Arms are the q249 p60 hash split (a NULL
    // experiment by construction — the registered negative control);
    // `significant` gated on the unrounded z, coalesced false. Scale:
    // one partial-aggregating pass to |users| rows, then six exact
    // longs.
    GraftQuery(
      "q288_did",
      (s, d) => {
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val bounds = ev.agg(min(to_date(col("ts"))).as("d0"),
          max(to_date(col("ts"))).as("d1"))
        val dd = ev.crossJoin(broadcast(bounds))
          .withColumn("mid",
            date_add(col("d0"),
              floor(datediff(col("d1"), col("d0")) / 2).cast("int")))
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "purchase" &&
              to_date(col("ts")) <= col("mid"),
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("pre_c"),
            sum(when(col("event_type") === "purchase" &&
              to_date(col("ts")) > col("mid"),
              floor(col("value") * 100).cast("long")).otherwise(0L)).as("post_c"))
          .select(pmod(Portable.p60(col("user_id").cast("string")), lit(2))
            .as("arm"), (col("post_c") - col("pre_c")).as("dd"))
        val a = dd.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_c"),
          sum(when(col("arm") === 0, col("dd")).otherwise(0L)).as("s_c"),
          sum(when(col("arm") === 0, col("dd") * col("dd")).otherwise(0L)).as("q_c"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_t"),
          sum(when(col("arm") === 1, col("dd")).otherwise(0L)).as("s_t"),
          sum(when(col("arm") === 1, col("dd") * col("dd")).otherwise(0L)).as("q_t"))
        val v = a.select(col("n_c"), col("n_t"),
          (col("s_c").cast("double") / col("n_c").cast("double")).as("m_c"),
          (col("s_t").cast("double") / col("n_t").cast("double")).as("m_t"),
          ((col("q_c").cast("double") -
            col("s_c").cast("double") * col("s_c").cast("double") /
              col("n_c").cast("double")) /
            (col("n_c").cast("double") - lit(1.0))).as("v_c"),
          ((col("q_t").cast("double") -
            col("s_t").cast("double") * col("s_t").cast("double") /
              col("n_t").cast("double")) /
            (col("n_t").cast("double") - lit(1.0))).as("v_t"))
        v.select(col("n_c"), col("n_t"),
            round(col("m_c"), 6).as("mean_delta_ctl"),
            round(col("m_t"), 6).as("mean_delta_trt"),
            round(col("m_t") - col("m_c"), 6).as("did_cents"),
            (col("v_t") / col("n_t").cast("double") +
              col("v_c") / col("n_c").cast("double")).as("se2"))
          .select(col("n_c"), col("n_t"), col("mean_delta_ctl"),
            col("mean_delta_trt"), col("did_cents"),
            when(col("se2") > 0, round(sqrt(col("se2")), 6)).as("se"),
            coalesce(when(col("se2") > 0,
              abs((col("mean_delta_trt") - col("mean_delta_ctl")) /
                sqrt(col("se2"))) > lit(1.96)), lit(false)).as("significant"))
      },
      Some(s"""WITH b AS (SELECT min(CAST(ts AS DATE)) AS d0,
                      max(CAST(ts AS DATE)) AS d1 FROM events),
               dd AS (SELECT ${Portable.p60Sql("user_id::VARCHAR")} % 2
                        AS arm,
                        CAST(sum(CASE WHEN event_type = 'purchase'
                          AND CAST(ts AS DATE) <= d0 + CAST((d1 - d0) // 2 AS INTEGER)
                          THEN CAST(floor(value * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS pre_c,
                        CAST(sum(CASE WHEN event_type = 'purchase'
                          AND CAST(ts AS DATE) > d0 + CAST((d1 - d0) // 2 AS INTEGER)
                          THEN CAST(floor(value * 100) AS BIGINT)
                          ELSE 0 END) AS BIGINT) AS post_c
                      FROM events CROSS JOIN b
                      WHERE user_id IS NOT NULL GROUP BY user_id, arm),
               dl AS (SELECT arm, post_c - pre_c AS dd FROM dd),
               a AS (SELECT
                       CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                       CAST(sum(CASE WHEN arm = 0 THEN dd ELSE 0 END) AS BIGINT) AS s_c,
                       CAST(sum(CASE WHEN arm = 0 THEN dd * dd ELSE 0 END) AS BIGINT) AS q_c,
                       CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                       CAST(sum(CASE WHEN arm = 1 THEN dd ELSE 0 END) AS BIGINT) AS s_t,
                       CAST(sum(CASE WHEN arm = 1 THEN dd * dd ELSE 0 END) AS BIGINT) AS q_t
                     FROM dl),
               v AS (SELECT n_c, n_t,
                       CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE) AS m_c,
                       CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE) AS m_t,
                       (CAST(q_c AS DOUBLE)
                         - CAST(s_c AS DOUBLE) * CAST(s_c AS DOUBLE)
                           / CAST(n_c AS DOUBLE))
                         / (CAST(n_c AS DOUBLE) - 1.0) AS v_c,
                       (CAST(q_t AS DOUBLE)
                         - CAST(s_t AS DOUBLE) * CAST(s_t AS DOUBLE)
                           / CAST(n_t AS DOUBLE))
                         / (CAST(n_t AS DOUBLE) - 1.0) AS v_t
                     FROM a),
               e AS (SELECT n_c, n_t,
                       round(m_c, 6) AS mean_delta_ctl,
                       round(m_t, 6) AS mean_delta_trt,
                       round(m_t - m_c, 6) AS did_cents,
                       v_t / CAST(n_t AS DOUBLE)
                         + v_c / CAST(n_c AS DOUBLE) AS se2
                     FROM v)
               SELECT n_c, n_t, mean_delta_ctl, mean_delta_trt, did_cents,
                      CASE WHEN se2 > 0 THEN round(sqrt(se2), 6) END AS se,
                      COALESCE(CASE WHEN se2 > 0 THEN
                        abs((mean_delta_trt - mean_delta_ctl) / sqrt(se2))
                          > CAST(1.96 AS DOUBLE) END, false) AS significant
               FROM e""")),

    // ---- peeking audit — the sequential-testing hazard every A/B
    // platform must surface: the DAILY CUMULATIVE two-proportion z
    // (q249's exact formula on prefix counts) with the naive 1.96
    // stop flag per day. On the registered null experiment (the p60
    // split) any crossing is a false stop — the audit row a platform
    // shows next to "your test reached significance". Exposure =
    // user's first event day, conversion = first purchase day; both
    // cumulate as per-arm prefix windows over the BOUNDED day domain
    // (q98 convention), so the whole audit is |days| rows after one
    // |users| aggregate. Early days with an empty arm or se = 0 yield
    // NULL z and a false flag (coalesce convention).
    GraftQuery(
      "q289_peeking_audit",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        val fu = ev.groupBy(col("user_id"))
          .agg(min(to_date(col("ts"))).as("fday"),
            min(when(col("event_type") === "purchase", to_date(col("ts"))))
              .as("cday"))
          .select(pmod(Portable.p60(col("user_id").cast("string")), lit(2))
            .as("arm"), col("fday"), col("cday"))
        val deltas = fu
          .select(col("arm"), col("fday").as("dy"), lit(1L).as("e"),
            lit(0L).as("k"))
          .unionByName(fu.filter(col("cday").isNotNull)
            .select(col("arm"), col("cday").as("dy"), lit(0L).as("e"),
              lit(1L).as("k")))
          .groupBy(col("arm"), col("dy"))
          .agg(sum(col("e")).as("e"), sum(col("k")).as("k"))
        val spine = ev.select(to_date(col("ts")).as("dy")).distinct()
          .crossJoin(s.range(2).select(col("id").as("arm")))
        val w = Window.partitionBy(col("arm")).orderBy(col("dy"))
        val cum = spine.join(deltas, Seq("arm", "dy"), "left")
          .select(col("arm"), col("dy"),
            sum(coalesce(col("e"), lit(0L))).over(w).as("cn"),
            sum(coalesce(col("k"), lit(0L))).over(w).as("ck"))
        val byDay = cum.groupBy(col("dy"))
          .agg(max(when(col("arm") === 0, col("cn"))).as("n_a"),
            max(when(col("arm") === 0, col("ck"))).as("k_a"),
            max(when(col("arm") === 1, col("cn"))).as("n_b"),
            max(when(col("arm") === 1, col("ck"))).as("k_b"))
        val z = byDay
          .withColumn("p1", when(col("n_a") > 0,
            col("k_a").cast("double") / col("n_a").cast("double")))
          .withColumn("p2", when(col("n_b") > 0,
            col("k_b").cast("double") / col("n_b").cast("double")))
          .withColumn("ph", when(col("n_a") + col("n_b") > 0,
            (col("k_a") + col("k_b")).cast("double") /
              (col("n_a") + col("n_b")).cast("double")))
          .withColumn("se", when(col("n_a") > 0 && col("n_b") > 0,
            sqrt(col("ph") * (lit(1.0) - col("ph")) *
              (lit(1.0) / col("n_a").cast("double") +
                lit(1.0) / col("n_b").cast("double")))))
          .withColumn("zv", when(col("se") > 0,
            (col("p1") - col("p2")) / col("se")))
        z.select(col("dy").cast("string").as("dy"),
            col("n_a"), col("k_a"), col("n_b"), col("k_b"),
            round(col("zv"), 6).as("z"),
            coalesce(abs(col("zv")) > lit(1.96), lit(false)).as("naive_stop"))
          .orderBy(col("dy"))
      },
      Some(s"""WITH fu AS (SELECT
                      ${Portable.p60Sql("user_id::VARCHAR")} % 2 AS arm,
                      min(CAST(ts AS DATE)) AS fday,
                      min(CASE WHEN event_type = 'purchase'
                          THEN CAST(ts AS DATE) END) AS cday
                    FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
               dl AS (SELECT arm, dy, CAST(sum(e) AS BIGINT) AS e,
                             CAST(sum(k) AS BIGINT) AS k
                      FROM (SELECT arm, fday AS dy, 1 AS e, 0 AS k FROM fu
                            UNION ALL
                            SELECT arm, cday, 0, 1 FROM fu
                            WHERE cday IS NOT NULL)
                      GROUP BY 1, 2),
               sp AS (SELECT dy, arm
                      FROM (SELECT DISTINCT CAST(ts AS DATE) AS dy
                            FROM events)
                      CROSS JOIN (SELECT unnest(range(0, 2)) AS arm)),
               cm AS (SELECT sp.arm, sp.dy,
                        CAST(sum(COALESCE(dl.e, 0)) OVER (PARTITION BY sp.arm
                          ORDER BY sp.dy) AS BIGINT) AS cn,
                        CAST(sum(COALESCE(dl.k, 0)) OVER (PARTITION BY sp.arm
                          ORDER BY sp.dy) AS BIGINT) AS ck
                      FROM sp LEFT JOIN dl
                        ON sp.arm = dl.arm AND sp.dy = dl.dy),
               bd AS (SELECT dy,
                        max(CASE WHEN arm = 0 THEN cn END) AS n_a,
                        max(CASE WHEN arm = 0 THEN ck END) AS k_a,
                        max(CASE WHEN arm = 1 THEN cn END) AS n_b,
                        max(CASE WHEN arm = 1 THEN ck END) AS k_b
                      FROM cm GROUP BY 1),
               zc AS (SELECT *,
                        CASE WHEN n_a > 0 THEN CAST(k_a AS DOUBLE)
                          / CAST(n_a AS DOUBLE) END AS p1,
                        CASE WHEN n_b > 0 THEN CAST(k_b AS DOUBLE)
                          / CAST(n_b AS DOUBLE) END AS p2,
                        CASE WHEN n_a + n_b > 0
                          THEN CAST(k_a + k_b AS DOUBLE)
                            / CAST(n_a + n_b AS DOUBLE) END AS ph
                      FROM bd),
               ze AS (SELECT *,
                        CASE WHEN n_a > 0 AND n_b > 0 THEN
                          sqrt(ph * (1 - ph)
                            * (1 / CAST(n_a AS DOUBLE)
                               + 1 / CAST(n_b AS DOUBLE))) END AS se
                      FROM zc),
               zf AS (SELECT *, CASE WHEN se > 0
                        THEN (p1 - p2) / se END AS zv FROM ze)
               SELECT CAST(dy AS VARCHAR) AS dy, n_a, k_a, n_b, k_b,
                      round(zv, 6) AS z,
                      COALESCE(abs(zv) > CAST(1.96 AS DOUBLE), false)
                        AS naive_stop
               FROM zf ORDER BY dy""")),

    // ---- WoE / Information Value scorecard — the feature-screening
    // stat credit models run before any fit: per-bucket weight of
    // evidence ln((pos_i/P)/(neg_i/N)) and the total IV. Bucket =
    // customer market segment, label = placed at least one URGENT
    // order. WoE's log argument is ONE division of exact longs
    // (pos·N / neg·P) so only the ln carries libm jitter (6dp-rounded
    // per convention); IV's terms are sign-mixed, so the total is a
    // defined-order head-seeded fold over the segment-sorted term
    // list (the q282 convention), emitted as a '_total' rollup row
    // (the q285 shape). Zero cells would null the WoE and drop out of
    // the fold (documented; non-binding on this data). Scale: one
    // |customers| partial aggregate, then |segments| rows.
    GraftQuery(
      "q290_iv_woe",
      (s, d) => {
        val lab = t(s, d, "customer")
          .join(t(s, d, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")).distinct(),
            col("c_custkey") === col("o_custkey"), "left")
          .select(col("c_mktsegment").as("segment"),
            when(col("o_custkey").isNotNull, 1L).otherwise(0L).as("pos"))
        val g = lab.groupBy(col("segment"))
          .agg(sum(col("pos")).as("n_pos"),
            (count(lit(1)) - sum(col("pos"))).as("n_neg"))
          .localCheckpoint(true) // |segments| rows
        val tot = g.agg(sum(col("n_pos")).as("tp"), sum(col("n_neg")).as("tn"))
        val woe = g.crossJoin(broadcast(tot))
          .select(col("segment"), col("n_pos"), col("n_neg"),
            when(col("n_pos") > 0 && col("n_neg") > 0,
              log((col("n_pos") * col("tn")).cast("double") /
                (col("n_neg") * col("tp")).cast("double"))).as("w"),
            (col("n_pos").cast("double") / col("tp").cast("double") -
              col("n_neg").cast("double") / col("tn").cast("double")).as("sd"))
        val ivFold = {
          val xs = transform(array_sort(collect_list(
            struct(col("segment"), (col("sd") * col("w")).as("term")))),
            e => e.getField("term"))
          aggregate(slice(xs, lit(2), size(xs) - 1), element_at(xs, 1),
            (acc, x) => acc + x)
        }
        val iv = woe.filter(col("w").isNotNull)
          .agg(ivFold.as("iv"))
        woe.select(col("segment"), col("n_pos"), col("n_neg"),
            round(col("w"), 6).as("woe"), lit(null).cast("double").as("iv"))
          .unionByName(tot.crossJoin(broadcast(iv))
            .select(lit("_total").as("segment"), col("tp").as("n_pos"),
              col("tn").as("n_neg"), lit(null).cast("double").as("woe"),
              round(col("iv"), 6).as("iv")))
          .orderBy(col("segment"))
      },
      Some("""WITH lab AS (SELECT c.c_mktsegment AS segment,
                      CASE WHEN u.o_custkey IS NOT NULL
                           THEN 1 ELSE 0 END AS pos
                    FROM customer c LEFT JOIN
                      (SELECT DISTINCT o_custkey FROM orders
                       WHERE o_orderpriority = '1-URGENT') u
                      ON c.c_custkey = u.o_custkey),
              g AS (SELECT segment, CAST(sum(pos) AS BIGINT) AS n_pos,
                           CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
                    FROM lab GROUP BY 1),
              tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
                             CAST(sum(n_neg) AS BIGINT) AS tn FROM g),
              woe AS (SELECT segment, n_pos, n_neg,
                        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                          ln(CAST(n_pos * tn AS DOUBLE)
                             / CAST(n_neg * tp AS DOUBLE)) END AS w,
                        CAST(n_pos AS DOUBLE) / CAST(tp AS DOUBLE)
                          - CAST(n_neg AS DOUBLE) / CAST(tn AS DOUBLE) AS sd
                      FROM g CROSS JOIN tot),
              iv AS (SELECT list_reduce(
                       list_transform(
                         list(struct_pack(segment := segment,
                                          term := sd * w) ORDER BY segment),
                         e -> e.term),
                       (a, x) -> a + x) AS iv
                     FROM woe WHERE w IS NOT NULL)
              SELECT segment, n_pos, n_neg, round(w, 6) AS woe,
                     CAST(NULL AS DOUBLE) AS iv
              FROM woe
              UNION ALL
              SELECT '_total', tp, tn, CAST(NULL AS DOUBLE),
                     round(iv, 6)
              FROM tot CROSS JOIN iv
              ORDER BY segment""")),

    // ---- split-conformal coverage — the distribution-free
    // uncertainty wrapper modern pipelines put around ANY point
    // predictor: calibrate |y − ŷ| on a hash-gated 25% split
    // (deterministic, so the calibration set is reproducible — the
    // q110 sampling discipline), take the ⌈0.9·(n+1)⌉-th smallest
    // calibration residual as q̂ (an EXACT order statistic, integer
    // index computed as (9(n+1)+9)//10 in longs, no interpolation),
    // and report empirical test coverage of ŷ ± q̂ — the ~90%
    // guarantee. Predictor: per-lang calibration-mean n_chars (one
    // exact division). Residuals are exact subtractions of one-division
    // doubles → bit-identical; the rank pick totals its order with
    // (r, doc_id). Scale: the rank sort is over the CALIBRATION split
    // only — by design a bounded sample (gate the hash harder to cap
    // it); the test side is one scan + broadcast of (lang-mean, q̂).
    GraftQuery(
      "q293_conformal_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"), col("n_chars"),
            (pmod(Portable.p60(col("doc_id").cast("string")), lit(4)) === 0)
              .as("cal"))
        val mu = docs.filter(col("cal")).groupBy(col("lang"))
          .agg((sum(col("n_chars")).cast("double") /
            count(lit(1)).cast("double")).as("mu"))
        val res = docs.join(broadcast(mu), "lang")
          .select(col("doc_id"), col("cal"),
            abs(col("n_chars").cast("double") - col("mu")).as("r"))
        val calR = res.filter(col("cal"))
        val nCal = calR.agg(count(lit(1)).as("n_cal"))
        // the conformal quantile via the bounded-domain histogram (the
        // q98/q287 convention), NOT a row_number over the calibration
        // ROWS: r = |n_chars − mu(lang)| takes at most |langs|·|lengths|
        // distinct values, so the cumulative window runs over the value
        // domain while the r20 form single-task-sorted the corpus-sized
        // calibration frame. The k-th smallest (r, doc_id) row's r IS
        // the smallest r whose cumulative count reaches k (the doc_id
        // tiebreak never changes the selected r value) — same qhat,
        // same output, pinned by the unchanged oracle.
        val rk = Window.orderBy(col("r"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val qhat = calR.groupBy(col("r")).agg(count(lit(1)).as("c"))
          .select(col("r"), sum(col("c")).over(rk).as("cum"))
          .crossJoin(broadcast(nCal))
          .filter(col("cum") >= expr("((n_cal + 1) * 9 + 9) DIV 10"))
          .orderBy(col("r")).limit(1)
          .select(col("n_cal"), col("r").as("qhat"))
        res.filter(!col("cal"))
          .crossJoin(broadcast(qhat))
          .agg(max(col("n_cal")).as("n_cal"),
            count(lit(1)).as("n_test"),
            max(round(col("qhat"), 6)).as("qhat"),
            (sum(when(col("r") <= col("qhat"), 1L).otherwise(0L))
              .cast("double") / count(lit(1)).cast("double")).as("coverage"))
      },
      Some(s"""WITH docs AS (SELECT doc_id, lang, n_chars,
                      ${Portable.p60Sql("doc_id::VARCHAR")} % 4 = 0 AS cal
                    FROM documents),
               mu AS (SELECT lang, CAST(sum(n_chars) AS DOUBLE)
                        / CAST(count(*) AS DOUBLE) AS mu
                      FROM docs WHERE cal GROUP BY 1),
               res AS (SELECT d.doc_id, d.cal,
                         abs(CAST(d.n_chars AS DOUBLE) - mu.mu) AS r
                       FROM docs d JOIN mu USING (lang)),
               nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cal
                      FROM res WHERE cal),
               qh AS (SELECT n_cal, r AS qhat
                      FROM (SELECT r, row_number() OVER (ORDER BY r, doc_id)
                              AS rn
                            FROM res WHERE cal)
                      CROSS JOIN nc
                      WHERE rn = ((n_cal + 1) * 9 + 9) // 10)
               SELECT max(n_cal) AS n_cal,
                      CAST(count(*) AS BIGINT) AS n_test,
                      max(round(qhat, 6)) AS qhat,
                      CAST(sum(CASE WHEN r <= qhat THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE) AS coverage
               FROM res CROSS JOIN qh WHERE NOT cal""")),

    // ---- McNemar's test — the PAIRED classifier comparison (two
    // models scored on the SAME documents; the unpaired q249/q281
    // machinery would throw away the pairing and lose power): which
    // of two deterministic language-ID heuristics (stopword-ratio ≥ 6%
    // vs contains-' the ') is better at predicting lang='en', decided
    // on the DISAGREEMENT cells only — b = A right & B wrong,
    // c = B right & A wrong, χ² = (b−c)²/(b+c). Every cell is an
    // exact long (the ratio cut uses integer floor division, the q229
    // DIV discipline); χ² is one division; `better` names the winner
    // and `significant` gates on the unrounded statistic vs the 1-df
    // 5% critical value 3.841459 (coalesced false when the classifiers
    // never disagree). Scale: one scan, six conditional longs.
    GraftQuery(
      "q296_mcnemar",
      (s, d) => {
        val sws = Seq("the", "a", "of", "and", "to", "in", "is")
        val toks = Portable.tokens(col("text"))
        val base = t(s, d, "documents")
          .select((col("lang") === "en").as("truth"),
            size(filter(toks, w => w.isInCollection(sws))).cast("long")
              .as("sc"),
            size(toks).cast("long").as("nt"),
            concat(lit(" "), trim(col("text")), lit(" "))
              .contains(" the ").as("pb"))
          .select(col("truth"), col("pb"),
            expr("(100 * sc) DIV nt >= 6").as("pa"))
        val a = base.agg(count(lit(1)).as("n_docs"),
          sum(when(col("pa") === col("truth") && col("pb") =!= col("truth"),
            1L).otherwise(0L)).as("b"),
          sum(when(col("pa") =!= col("truth") && col("pb") === col("truth"),
            1L).otherwise(0L)).as("c"))
        a.select(col("n_docs"), col("b"), col("c"),
            when(col("b") + col("c") > 0,
              ((col("b") - col("c")) * (col("b") - col("c"))).cast("double")
                / (col("b") + col("c")).cast("double")).as("chi2"))
          .select(col("n_docs"), col("b"), col("c"),
            round(col("chi2"), 6).as("chi2"),
            when(col("b") > col("c"), "stopword_ratio")
              .when(col("c") > col("b"), "contains_the")
              .otherwise("tie").as("better"),
            coalesce(col("chi2") > lit(3.841459), lit(false))
              .as("significant"))
      },
      Some("""WITH d AS (SELECT lang = 'en' AS truth,
                     (100 * len(list_filter(
                         string_split_regex(trim(text), '\s+'),
                         t -> t IN ('the', 'a', 'of', 'and', 'to', 'in',
                                    'is')))
                       // len(string_split_regex(trim(text), '\s+')))
                       >= 6 AS pa,
                     contains(' ' || trim(text) || ' ', ' the ') AS pb
                   FROM documents),
              a AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                      CAST(sum(CASE WHEN pa = truth AND pb <> truth
                        THEN 1 ELSE 0 END) AS BIGINT) AS b,
                      CAST(sum(CASE WHEN pa <> truth AND pb = truth
                        THEN 1 ELSE 0 END) AS BIGINT) AS c
                    FROM d),
              e AS (SELECT *, CASE WHEN b + c > 0 THEN
                      CAST((b - c) * (b - c) AS DOUBLE)
                        / CAST(b + c AS DOUBLE) END AS chi2
                    FROM a)
              SELECT n_docs, b, c, round(chi2, 6) AS chi2,
                     CASE WHEN b > c THEN 'stopword_ratio'
                          WHEN c > b THEN 'contains_the'
                          ELSE 'tie' END AS better,
                     COALESCE(chi2 > CAST(3.841459 AS DOUBLE), false)
                       AS significant
              FROM e""")),

    // ---- Bradley–Terry preference strengths — the batch MLE behind
    // preference-data pipelines (RLHF reward modeling aggregates
    // pairwise "A beats B" judgments into per-item strengths; Elo is
    // the sequential-global cousin that CANNOT distribute, BT is the
    // order-free batch face that can). Comparisons are derived
    // deterministically from events: per user, consecutive events
    // (ts, event_id order) of DIFFERENT types form a game, winner =
    // larger value, ties to the lexicographically smaller type. Wins
    // and games are exact longs over a |types|²-bounded matrix; the
    // strengths are 25 rounds of the Hunter (2004) MM update
    // p_i ← w_i / Σ_j N_ij/(p_i+p_j), run as ONE vector-state
    // expression fold on a single bounded-width row (the q280
    // convention, extended from a scalar recurrence to a |types|-
    // vector): both engines replay the identical IEEE sequence —
    // opponents fold in (a,b) order, items update synchronously from
    // the previous round's vector, Z folds in item order. The oracle
    // replays the rounds as a RECURSIVE CTE carrying the vector as a
    // list (fresh row per round — the q280 oracle note's aliasing-safe
    // form). Precondition: every item plays ≥1 game (holds by
    // construction — a type with no inter-type adjacency anywhere in
    // the corpus would drop from the output). Scale: the only
    // data-sized work is the q176 lead-window shape (one shuffle on
    // user_id); the MM iteration touches |types|+|types|² values.
    GraftQuery(
      "q312_bradley_terry",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val nx = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type").as("et"), col("value"))
          .withColumn("net", lead(col("et"), 1).over(w))
          .withColumn("nv", lead(col("value"), 1).over(w))
          .filter(col("net").isNotNull && col("et") =!= col("net"))
        val wins = nx.select(
            when(col("value") > col("nv"), col("et"))
              .when(col("nv") > col("value"), col("net"))
              .otherwise(least(col("et"), col("net"))).as("winner"),
            when(col("value") > col("nv"), col("net"))
              .when(col("nv") > col("value"), col("et"))
              .otherwise(greatest(col("et"), col("net"))).as("loser"))
          .groupBy(col("winner"), col("loser"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Preference.bradleyTerry(wins, iters = 25)
          .select(col("item").as("event_type"), col("wins"), col("games"),
            col("strength"), col("rnk"))
          .orderBy(col("event_type"))
      },
      Some("""WITH RECURSIVE
              ev AS (SELECT user_id, event_id, ts, event_type AS et, value
                     FROM events WHERE user_id IS NOT NULL),
              nx AS (SELECT et, value,
                       lead(et) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS net,
                       lead(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS nv
                     FROM ev),
              wins AS (SELECT CASE WHEN value > nv THEN et
                                   WHEN nv > value THEN net
                                   ELSE least(et, net) END AS winner,
                              CASE WHEN value > nv THEN net
                                   WHEN nv > value THEN et
                                   ELSE greatest(et, net) END AS loser,
                              CAST(count(*) AS BIGINT) AS n
                       FROM (SELECT * FROM nx
                             WHERE net IS NOT NULL AND et <> net)
                       GROUP BY 1, 2),
              games AS (SELECT ga, gb, CAST(sum(n) AS BIGINT) AS g
                        FROM (SELECT winner AS ga, loser AS gb, n FROM wins
                              UNION ALL
                              SELECT loser, winner, n FROM wins)
                        GROUP BY 1, 2),
              per AS (SELECT gg.item, gg.games,
                             COALESCE(ww.wins, CAST(0 AS BIGINT)) AS wins
                      FROM (SELECT ga AS item, CAST(sum(g) AS BIGINT)
                              AS games FROM games GROUP BY 1) gg
                      LEFT JOIN (SELECT winner AS item,
                              CAST(sum(n) AS BIGINT) AS wins
                            FROM wins GROUP BY 1) ww USING (item)),
              st0 AS (SELECT list(struct_pack(item := item,
                          w := CAST(wins AS DOUBLE),
                          p := CAST(1.0 AS DOUBLE)) ORDER BY item) AS st
                      FROM per),
              gmt AS (SELECT list(struct_pack(a := ga, b := gb,
                          n := CAST(g AS DOUBLE)) ORDER BY ga, gb) AS gm
                      FROM games),
              it(iter, st) AS (
                SELECT 0, st FROM st0
                UNION ALL
                SELECT iter + 1,
                  list_transform(st, e -> struct_pack(item := e.item,
                    w := e.w,
                    p := e.w / list_reduce(
                      list_transform(list_filter(gmt.gm, g -> g.a = e.item),
                        g -> g.n / (e.p +
                          list_filter(st, x -> x.item = g.b)[1].p)),
                      (acc, x) -> acc + x)))
                FROM it CROSS JOIN gmt WHERE iter < 25),
              fin AS (SELECT st, list_reduce(list_transform(st, e -> e.p),
                        (acc, x) -> acc + x) AS z
                      FROM it WHERE iter = 25),
              outp AS (SELECT u.item AS item, round(u.p / z, 6) AS strength
                       FROM fin, unnest(st) AS t(u))
              SELECT p.item AS event_type, p.wins, p.games, o.strength,
                     row_number() OVER (ORDER BY o.strength DESC, p.item)
                       AS rnk
              FROM per p JOIN outp o USING (item)
              ORDER BY event_type"""))
  )

  /** RBO truncation depth and persistence (q315). */
  private val RboK = 50

  // lazy: declared below `all`, which concatenates it at object init
  lazy val rankCompare: Seq[GraftQuery] = Seq(
    // ---- rank-biased overlap between two rankers — the "did the new
    // ranker change what users actually SEE" eval that q216's
    // truth-based metrics can't ask (they need relevance labels; RBO
    // compares two RANKINGS directly, top-weighted so disagreement at
    // rank 2 matters more than at rank 49). Rankers: part revenue
    // computed on the two l_orderkey-parity halves of lineitem — two
    // estimates of the same ranking from disjoint data, so RBO here
    // doubles as a ranking-stability probe. Determinism: per-row
    // floor-cents (one identical IEEE chain), exact-long revenue sums,
    // rank order (cents DESC, pk ASC) total; the prefix-weight series
    // (1−p)·Σ p^(d−1)·|A_d∩B_d|/d folds in depth order with exact-long
    // overlap counts (power() cross-engine exposure is 1-ulp under the
    // 6dp round, the ln/exp precedent). Scale: the only corpus-sized
    // work is one (half, part) exact aggregate; top-50 is the
    // skew-immune GroupTopK aggregator (map-side k-bounded, no
    // parts-domain window sort); everything after runs on ≤ k² rows.
    GraftQuery(
      "q315_rbo",
      (s, d) => {
        import s.implicits._
        val cents = t(s, d, "lineitem")
          .select(pmod(col("l_orderkey"), lit(2)).as("h"),
            col("l_partkey").as("pk"),
            floor((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              * 100).cast("long").as("c"))
          .groupBy(col("h"), col("pk")).agg(sum(col("c")).as("cents"))
        implicit val tieAsc: Ordering[Long] = Ordering.Long.reverse
        val top = cents.as[(Long, Long, Long)]
          .groupByKey(_._1)
          // cents < 2^53 by orders of magnitude: the double is exact
          .mapValues(r => (r._3.toDouble, r._2))
          .agg(new graft.ops.GroupTopK[Long](RboK).toColumn.name("top"))
          .flatMap { case (h, tp) =>
            tp.iterator.zipWithIndex.map { case ((_, pk), i) =>
              (h, pk, (i + 1).toLong) }
          }
          .toDF("h", "pk", "rk")
          .localCheckpoint(true) // ≤ 2k rows; read 3 ways below
        val a = top.filter(col("h") === 0).select(col("pk"), col("rk"))
        val b = top.filter(col("h") === 1).select(col("pk"), col("rk"))
        top.groupBy()
          .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("h") === 1, 1L).otherwise(0L)).as("n_b"))
          .crossJoin(broadcast(
            graft.ops.RankEval.rbo(a, b, k = RboK, p = 0.9)))
          .select(col("n_a"), col("n_b"), col("n_common"),
            col("agree_at_k"), col("rbo"), col("rbo_ub"))
      },
      Some(s"""WITH cents AS (SELECT l_orderkey % 2 AS h, l_partkey AS pk,
                     CAST(sum(CAST(floor((l_extendedprice
                         * (1.0 - l_discount)) * 100) AS BIGINT))
                       AS BIGINT) AS cents
                   FROM lineitem GROUP BY 1, 2),
              rk AS (SELECT h, pk, row_number() OVER (PARTITION BY h
                       ORDER BY cents DESC, pk) AS rk
                     FROM cents),
              tp AS (SELECT h, pk, rk FROM rk WHERE rk <= $RboK),
              a AS (SELECT pk, rk AS ra FROM tp WHERE h = 0),
              b AS (SELECT pk, rk AS rb FROM tp WHERE h = 1),
              mx AS (SELECT greatest(ra, rb) AS mx FROM a JOIN b USING (pk)),
              xd AS (SELECT dd, CAST(count(mx) AS BIGINT) AS x
                     FROM generate_series(1, $RboK) g(dd)
                     LEFT JOIN mx ON mx <= dd GROUP BY dd),
              fold AS (SELECT list_reduce(
                         list_transform(
                           list(struct_pack(dd := dd, x := x) ORDER BY dd),
                           e -> power(0.9, CAST(e.dd - 1 AS DOUBLE))
                             * (CAST(e.x AS DOUBLE) / CAST(e.dd AS DOUBLE))),
                         (acc, t) -> acc + t) AS sm,
                       max(CASE WHEN dd = $RboK THEN x END) AS xk
                       FROM xd),
              sz AS (SELECT CAST(sum(CASE WHEN h = 0 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_a,
                            CAST(sum(CASE WHEN h = 1 THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_b
                     FROM tp),
              nc AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM mx)
              SELECT sz.n_a, sz.n_b, nc.n_common,
                     round(CAST(fold.xk AS DOUBLE)
                       / CAST($RboK AS DOUBLE), 6) AS agree_at_k,
                     round((CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))
                       * fold.sm, 6) AS rbo,
                     round((CAST(1.0 AS DOUBLE) - CAST(0.9 AS DOUBLE))
                       * fold.sm
                       + power(0.9, CAST($RboK AS DOUBLE)), 6) AS rbo_ub
              FROM sz CROSS JOIN nc CROSS JOIN fold""")),

    // ---- preference transitivity audit — the validity check q312's
    // scalar strengths silently assume: in how many item triples do
    // the pairwise MAJORITY directions form a cycle (i beats j beats
    // k beats i — rock-paper-scissors, which NO strength vector can
    // represent)? High cycle_rate means "fix the judgments, don't fit
    // a leaderboard" — the annotation-QA gate a preference pipeline
    // runs before reward modeling. Majority edges are strict (tied
    // pairs drop; a triple counts only when all three pairs have a
    // majority); a triple is cyclic iff its three directions are a
    // rotation, tested as the two rotation patterns on the canonical
    // i<j<k order. Everything is exact longs on |types|²-bounded
    // frames; cycle_rate is one final division (null when no triple
    // qualifies). Scale: same one lead-window scan as q312; the
    // cycle scan never touches data-sized frames.
    GraftQuery(
      "q316_preference_cycles",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        val nx = t(s, d, "events").filter(col("user_id").isNotNull)
          .select(col("user_id"), col("event_id"), col("ts"),
            col("event_type").as("et"), col("value"))
          .withColumn("net", lead(col("et"), 1).over(w))
          .withColumn("nv", lead(col("value"), 1).over(w))
          .filter(col("net").isNotNull && col("et") =!= col("net"))
        val wins = nx.select(
            when(col("value") > col("nv"), col("et"))
              .when(col("nv") > col("value"), col("net"))
              .otherwise(least(col("et"), col("net"))).as("winner"),
            when(col("value") > col("nv"), col("net"))
              .when(col("nv") > col("value"), col("et"))
              .otherwise(greatest(col("et"), col("net"))).as("loser"))
          .groupBy(col("winner"), col("loser"))
          .agg(count(lit(1)).as("n"))
        graft.ops.Preference.cycleRate(wins)
      },
      Some("""WITH ev AS (SELECT user_id, event_id, ts, event_type AS et,
                     value
                   FROM events WHERE user_id IS NOT NULL),
              nx AS (SELECT et, value,
                       lead(et) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS net,
                       lead(value) OVER (PARTITION BY user_id
                         ORDER BY ts, event_id) AS nv
                     FROM ev),
              wins AS (SELECT CASE WHEN value > nv THEN et
                                   WHEN nv > value THEN net
                                   ELSE least(et, net) END AS winner,
                              CASE WHEN value > nv THEN net
                                   WHEN nv > value THEN et
                                   ELSE greatest(et, net) END AS loser,
                              CAST(count(*) AS BIGINT) AS n
                       FROM (SELECT * FROM nx
                             WHERE net IS NOT NULL AND et <> net)
                       GROUP BY 1, 2),
              net AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS nab FROM (
                        SELECT winner AS a, loser AS b, n FROM wins
                        UNION ALL
                        SELECT loser, winner, 0 FROM wins)
                      GROUP BY 1, 2),
              maj AS (SELECT x.a AS ma, x.b AS mb
                      FROM net x JOIN net y ON x.a = y.b AND x.b = y.a
                      WHERE x.nab > y.nab),
              it AS (SELECT CAST(count(DISTINCT i) AS BIGINT) AS n_items
                     FROM (SELECT ma AS i FROM maj
                           UNION ALL SELECT mb FROM maj)),
              me AS (SELECT CAST(count(*) AS BIGINT) AS n_majority_edges
                     FROM maj),
              ij AS (SELECT * FROM (
                       SELECT ma AS i1, mb AS j1, true AS iwj FROM maj
                       UNION ALL
                       SELECT mb, ma, false FROM maj)
                     WHERE i1 < j1),
              jk AS (SELECT * FROM (
                       SELECT ma AS j2, mb AS k2, true AS jwk FROM maj
                       UNION ALL
                       SELECT mb, ma, false FROM maj)
                     WHERE j2 < k2),
              ik AS (SELECT * FROM (
                       SELECT ma AS i3, mb AS k3, true AS iwk FROM maj
                       UNION ALL
                       SELECT mb, ma, false FROM maj)
                     WHERE i3 < k3),
              tr AS (SELECT (iwj AND jwk AND NOT iwk)
                            OR (NOT iwj AND NOT jwk AND iwk) AS cyc
                     FROM ij
                     JOIN jk ON j1 = j2
                     JOIN ik ON i1 = i3 AND k2 = k3),
              ag AS (SELECT CAST(count(*) AS BIGINT) AS n_triples,
                            CAST(sum(CASE WHEN cyc THEN 1 ELSE 0 END)
                              AS BIGINT) AS n_cycles
                     FROM tr)
              SELECT it.n_items, me.n_majority_edges, ag.n_triples,
                     ag.n_cycles,
                     CASE WHEN ag.n_triples > 0 THEN
                       round(CAST(ag.n_cycles AS DOUBLE)
                         / CAST(ag.n_triples AS DOUBLE), 6) END
                       AS cycle_rate
              FROM it CROSS JOIN me CROSS JOIN ag""")),

    // ---- sign-flip permutation test (op rationale on
    // Stats.signFlipTest): the ASSUMPTION-FREE member of the testing
    // family — q281's Welch t leans on a normal approximation, q286's
    // bootstrap on the plug-in principle; the permutation null needs
    // only symmetry of the per-unit difference under H0. Question: do
    // users spend differently on clicks vs views? Unit = user with
    // both event types; d_u = click cents − view cents (exact longs —
    // the SUM statistic stays commutative integer math, so the whole
    // test is order-free: every sign, comparison and count is integer,
    // the lone double is the reported p). 256 hash-seeded sign
    // replicates in one scan, the q286 replicate convention. Scale:
    // the 256× inflation collapses at the map-side partial agg; the
    // final compare touches a 256-row frame.
    GraftQuery(
      "q319_sign_flip_test",
      (s, d) => {
        val u = t(s, d, "events")
          .filter(col("user_id").isNotNull &&
            col("event_type").isin("click", "view"))
          .groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "click",
              floor(col("value") * 100).cast("long")).otherwise(0L))
              .as("cc"),
            sum(when(col("event_type") === "view",
              floor(col("value") * 100).cast("long")).otherwise(0L))
              .as("vc"),
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("ncl"),
            sum(when(col("event_type") === "view", 1L).otherwise(0L))
              .as("nv"))
          .filter(col("ncl") > 0 && col("nv") > 0)
        graft.ops.Stats.signFlipTest(
          u, col("user_id"), col("cc") - col("vc"))
      },
      Some(s"""WITH u AS (SELECT user_id,
                      CAST(sum(CASE WHEN event_type = 'click'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS cc,
                      CAST(sum(CASE WHEN event_type = 'view'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS vc,
                      CAST(sum(CASE WHEN event_type = 'click' THEN 1
                           ELSE 0 END) AS BIGINT) AS ncl,
                      CAST(sum(CASE WHEN event_type = 'view' THEN 1
                           ELSE 0 END) AS BIGINT) AS nv
                    FROM events
                    WHERE user_id IS NOT NULL
                      AND event_type IN ('click', 'view')
                    GROUP BY 1),
               dd AS (SELECT user_id, cc - vc AS d FROM u
                      WHERE ncl > 0 AND nv > 0),
               obs AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
                              CAST(sum(d) AS BIGINT) AS stat_obs FROM dd),
               reps AS (SELECT r.r,
                          CAST(sum(CASE WHEN ${Portable.p60Sql(
                            "dd.user_id::VARCHAR || ':' || r.r::VARCHAR")} % 2 = 0
                               THEN dd.d ELSE -dd.d END) AS BIGINT) AS stat
                        FROM dd CROSS JOIN
                          (SELECT unnest(range(0, 256)) AS r) r
                        GROUP BY 1)
               SELECT obs.n_units, obs.stat_obs,
                      CAST(sum(CASE WHEN abs(reps.stat) >= abs(obs.stat_obs)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
                      CAST(count(*) AS BIGINT) AS n_reps,
                      round(CAST(1 + sum(CASE WHEN abs(reps.stat) >=
                             abs(obs.stat_obs) THEN 1 ELSE 0 END) AS DOUBLE)
                          / CAST(1 + count(*) AS DOUBLE), 6) AS p_value
               FROM reps CROSS JOIN obs GROUP BY 1, 2""")),

    // ---- Theil–Sen robust daily-revenue trend (op rationale on
    // Stats.theilSen): is purchase revenue drifting, measured so one
    // flash-sale or outage day cannot fake or hide the answer — the
    // median-of-pairwise-slopes estimator has a 29% breakdown point
    // where q172's OLS family has 0%. x = epoch day, y = day's
    // purchase cents (exact longs; days with no purchases contribute
    // y = 0 rather than vanishing — a silent gap IS a revenue fact).
    // Scale: the pairwise frame is |days|² of a pre-aggregated
    // bounded-domain frame (the q98 convention), never row pairs; each
    // slope is one exact-long division, the median an order-statistic
    // pick replayed identically by both engines.
    GraftQuery(
      "q320_theil_sen",
      (s, d) => graft.ops.Stats.theilSen(
        t(s, d, "events")
          .groupBy(datediff(to_date(col("ts")), lit("1970-01-01")).as("x"))
          .agg(sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L)).as("y")),
        col("x").cast("long"), col("y")),
      Some("""WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
                      CAST(ts AS DATE)) AS BIGINT) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
                    FROM events GROUP BY 1),
              pr AS (SELECT CAST(b.y - a.y AS DOUBLE)
                         / CAST(b.x - a.x AS DOUBLE) AS slope
                     FROM d a JOIN d b ON b.x > a.x),
              sl AS (SELECT list_sort(list(slope)) AS sl,
                            CAST(count(*) AS BIGINT) AS np FROM pr),
              med AS (SELECT np, CASE WHEN np % 2 = 1
                          THEN sl[CAST((np + 1) // 2 AS INT)]
                          ELSE (sl[CAST(np // 2 AS INT)] +
                                sl[CAST(np // 2 + 1 AS INT)])
                               / CAST(2.0 AS DOUBLE) END AS sen
                      FROM sl),
              ic AS (SELECT list_sort(list(CAST(d.y AS DOUBLE)
                              - med.sen * CAST(d.x AS DOUBLE))) AS il,
                            CAST(count(*) AS BIGINT) AS nd,
                            max(med.sen) AS sen, max(med.np) AS np
                     FROM d CROSS JOIN med)
              SELECT nd AS n_points, np AS n_pairs,
                     round(sen, 6) AS slope,
                     round(CASE WHEN nd % 2 = 1
                         THEN il[CAST((nd + 1) // 2 AS INT)]
                         ELSE (il[CAST(nd // 2 AS INT)] +
                               il[CAST(nd // 2 + 1 AS INT)])
                              / CAST(2.0 AS DOUBLE) END, 6) AS intercept
              FROM ic""")),

    // ---- Simpson's-paradox (amalgamation) audit — the experiment-
    // analytics guard q288/q269/q270 assume away: a pooled rate
    // difference can carry the OPPOSITE sign of every stratum when the
    // strata are imbalanced across arms. Question: weekend vs weekday
    // purchase share, stratified by 6-hour day-part. Per stratum and
    // pooled, the SIGN is the exact-long cross-multiplication
    // sign(sa·nb − sb·na) — rounding never decides a flip; a flip is
    // sk·pk < 0 (integer product). The directly-standardized
    // (stratum-size-weighted) difference is the de-confounded
    // headline; its weighted sum folds in stratum order over the
    // |strata|-bounded list (the q313 defined-order convention) so
    // both engines replay one IEEE sequence. Non-vacuous across SFs by
    // probe: sf0.001 pools +1 with 1 flipped stratum, sf0.01/sf0.1
    // pool −1 with 0 — both branches fire. Scale: one partial-agg scan
    // to |strata| rows; everything downstream is bounded by the
    // 4-stratum domain.
    GraftQuery(
      "q321_simpson_audit",
      (s, d) => {
        val e = t(s, d, "events").select(
          when(dayofweek(to_date(col("ts"))).isin(1, 7), 1L)
            .otherwise(0L).as("grp"),
          expr("hour(ts) DIV 6").as("stratum"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("succ"))
        val st = e.groupBy(col("stratum"))
          .agg(sum(when(col("grp") === 1, col("succ")).otherwise(0L)).as("sa"),
            sum(when(col("grp") === 1, 1L).otherwise(0L)).as("na"),
            sum(when(col("grp") === 0, col("succ")).otherwise(0L)).as("sb"),
            sum(when(col("grp") === 0, 1L).otherwise(0L)).as("nb"))
        val pool = st.agg(sum(col("sa")).as("psa"), sum(col("na")).as("pna"),
          sum(col("sb")).as("psb"), sum(col("nb")).as("pnb"),
          sum(col("na") + col("nb")).as("nn"))
        st.crossJoin(broadcast(pool))
          .select(col("stratum"), col("psa"), col("pna"), col("psb"),
            col("pnb"),
            when(col("sa") * col("nb") > col("sb") * col("na"), 1L)
              .when(col("sa") * col("nb") < col("sb") * col("na"), -1L)
              .otherwise(0L).as("sk"),
            when(col("psa") * col("pnb") > col("psb") * col("pna"), 1L)
              .when(col("psa") * col("pnb") < col("psb") * col("pna"), -1L)
              .otherwise(0L).as("pk"),
            ((col("na") + col("nb")).cast("double") / col("nn").cast("double") *
              (col("sa").cast("double") / col("na").cast("double") -
                col("sb").cast("double") / col("nb").cast("double"))).as("v"))
          .agg(max(col("pk")).as("pooled_sign"),
            count(lit(1)).as("n_strata"),
            round(max(col("psa")).cast("double") / max(col("pna")).cast("double") -
              max(col("psb")).cast("double") / max(col("pnb")).cast("double"), 6)
              .as("pooled_diff"),
            sort_array(collect_list(struct(col("stratum"), col("v").as("v"))))
              .as("ts"),
            sum(when(col("sk") * col("pk") < 0, 1L).otherwise(0L)).as("n_flips"),
            sum(when(col("sk") === 0, 1L).otherwise(0L)).as("n_ties"))
          .select(col("pooled_sign"), col("n_strata"), col("pooled_diff"),
            expr("round(aggregate(ts, CAST(0.0 AS DOUBLE), (a, x) -> a + x.v), 6)")
              .as("adjusted_diff"),
            col("n_flips"), col("n_ties"))
      },
      Some("""WITH e AS (SELECT CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                     THEN 1 ELSE 0 END AS grp,
                     hour(ts) // 6 AS stratum,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
                   FROM events),
              st AS (SELECT stratum,
                       CAST(sum(CASE WHEN grp = 1 THEN succ ELSE 0 END) AS BIGINT) AS sa,
                       CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS na,
                       CAST(sum(CASE WHEN grp = 0 THEN succ ELSE 0 END) AS BIGINT) AS sb,
                       CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb
                     FROM e GROUP BY 1),
              pool AS (SELECT CAST(sum(sa) AS BIGINT) AS psa,
                              CAST(sum(na) AS BIGINT) AS pna,
                              CAST(sum(sb) AS BIGINT) AS psb,
                              CAST(sum(nb) AS BIGINT) AS pnb,
                              CAST(sum(na + nb) AS BIGINT) AS nn FROM st),
              sg AS (SELECT st.*, pool.psa, pool.pna, pool.psb, pool.pnb,
                            pool.nn,
                            CASE WHEN sa*nb > sb*na THEN 1
                                 WHEN sa*nb < sb*na THEN -1 ELSE 0 END AS sk,
                            CASE WHEN psa*pnb > psb*pna THEN 1
                                 WHEN psa*pnb < psb*pna THEN -1 ELSE 0 END AS pk
                     FROM st CROSS JOIN pool)
              SELECT CAST(max(pk) AS BIGINT) AS pooled_sign,
                     CAST(count(*) AS BIGINT) AS n_strata,
                     round(CAST(max(psa) AS DOUBLE)/CAST(max(pna) AS DOUBLE)
                         - CAST(max(psb) AS DOUBLE)/CAST(max(pnb) AS DOUBLE), 6)
                       AS pooled_diff,
                     round(list_reduce(
                       list_transform(
                         list(struct_pack(stratum := stratum,
                             v := CAST(na + nb AS DOUBLE)/CAST(nn AS DOUBLE)
                                * (CAST(sa AS DOUBLE)/CAST(na AS DOUBLE)
                                   - CAST(sb AS DOUBLE)/CAST(nb AS DOUBLE)))
                           ORDER BY stratum),
                         x -> x.v),
                       (a, x) -> a + x), 6) AS adjusted_diff,
                     CAST(sum(CASE WHEN sk * pk < 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_flips,
                     CAST(sum(CASE WHEN sk = 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_ties
              FROM sg""")),

    // ---- Cochran–Mantel–Haenszel pooled odds ratio — q321's audit
    // says WHETHER strata and pool disagree; CMH is the textbook
    // answer to "then what number do I report": the stratification-
    // adjusted association Σ_k(a_k·d_k/n_k) / Σ_k(b_k·c_k/n_k), the
    // fixed-effects pooling that weights each stratum by its
    // information content instead of its arm imbalance. Same
    // instantiation as q321 (weekend vs weekday purchase odds,
    // day-part strata) so the two rows read together. Each stratum
    // term is exact-long products with ONE division; the two sums fold
    // in stratum order (q313 convention); pooled OR is a single
    // division of exact long products. Degenerate cells guard to NULL
    // on both engines (the q217 /0 discipline). Scale: one partial-agg
    // scan to |strata| rows; all folds bounded by the 4-stratum domain.
    GraftQuery(
      "q326_cmh_odds_ratio",
      (s, d) => {
        val e = t(s, d, "events").select(
          when(dayofweek(to_date(col("ts"))).isin(1, 7), 1L)
            .otherwise(0L).as("grp"),
          expr("hour(ts) DIV 6").as("stratum"),
          when(col("event_type") === "purchase", 1L).otherwise(0L)
            .as("succ"))
        val st = e.groupBy(col("stratum"))
          .agg(sum(when(col("grp") === 1, col("succ")).otherwise(0L)).as("a"),
            sum(when(col("grp") === 1, lit(1L) - col("succ")).otherwise(0L)).as("b"),
            sum(when(col("grp") === 0, col("succ")).otherwise(0L)).as("c"),
            sum(when(col("grp") === 0, lit(1L) - col("succ")).otherwise(0L)).as("d"))
        st.select(col("stratum"), col("a"), col("b"), col("c"), col("d"),
            ((col("a") * col("d")).cast("double") /
              (col("a") + col("b") + col("c") + col("d")).cast("double")).as("vn"),
            ((col("b") * col("c")).cast("double") /
              (col("a") + col("b") + col("c") + col("d")).cast("double")).as("vd"))
          .agg(count(lit(1)).as("n_strata"),
            sum(col("a")).as("pa"), sum(col("b")).as("pb"),
            sum(col("c")).as("pc"), sum(col("d")).as("pd"),
            sort_array(collect_list(struct(col("stratum"), col("vn").as("v"))))
              .as("tn"),
            sort_array(collect_list(struct(col("stratum"), col("vd").as("v"))))
              .as("td"))
          .select(col("n_strata"),
            when(col("pb") * col("pc") > 0,
              round((col("pa") * col("pd")).cast("double") /
                (col("pb") * col("pc")).cast("double"), 6)).as("pooled_or"),
            expr("""CASE WHEN aggregate(td, CAST(0.0 AS DOUBLE), (x, y) -> x + y.v) > 0
                    THEN round(aggregate(tn, CAST(0.0 AS DOUBLE), (x, y) -> x + y.v)
                             / aggregate(td, CAST(0.0 AS DOUBLE), (x, y) -> x + y.v), 6)
                    END""").as("cmh_or"))
      },
      Some("""WITH e AS (SELECT CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6)
                     THEN 1 ELSE 0 END AS grp,
                     hour(ts) // 6 AS stratum,
                     CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS succ
                   FROM events),
              st AS (SELECT stratum,
                       CAST(sum(CASE WHEN grp=1 THEN succ ELSE 0 END) AS BIGINT) AS a,
                       CAST(sum(CASE WHEN grp=1 THEN 1-succ ELSE 0 END) AS BIGINT) AS b,
                       CAST(sum(CASE WHEN grp=0 THEN succ ELSE 0 END) AS BIGINT) AS c,
                       CAST(sum(CASE WHEN grp=0 THEN 1-succ ELSE 0 END) AS BIGINT) AS d
                     FROM e GROUP BY 1),
              f AS (SELECT
                      list_reduce(list_transform(
                        list(struct_pack(stratum := stratum,
                           v := CAST(a*d AS DOUBLE)/CAST(a+b+c+d AS DOUBLE))
                          ORDER BY stratum),
                        x -> x.v), (acc, x) -> acc + x) AS num,
                      list_reduce(list_transform(
                        list(struct_pack(stratum := stratum,
                           v := CAST(b*c AS DOUBLE)/CAST(a+b+c+d AS DOUBLE))
                          ORDER BY stratum),
                        x -> x.v), (acc, x) -> acc + x) AS den,
                      CAST(count(*) AS BIGINT) AS n_strata,
                      CAST(sum(a) AS BIGINT) AS pa, CAST(sum(b) AS BIGINT) AS pb,
                      CAST(sum(c) AS BIGINT) AS pc, CAST(sum(d) AS BIGINT) AS pd
                    FROM st)
              SELECT n_strata,
                     CASE WHEN pb * pc > 0 THEN
                       round(CAST(pa*pd AS DOUBLE)/CAST(pb*pc AS DOUBLE), 6)
                     END AS pooled_or,
                     CASE WHEN den > 0 THEN round(num/den, 6) END AS cmh_or
              FROM f""")),

    // ---- Mann–Kendall trend test + Kendall τ-b — q320's classic
    // partner (Theil–Sen estimates the slope, Mann–Kendall tests its
    // EXISTENCE; together they are the standard nonparametric trend
    // kit): S = Σ sign(y_j − y_i) over x_j > x_i is pure integer
    // arithmetic, τ-b divides by the tie-corrected pair count
    // (tie PAIRS counted exactly), and the z-score uses the
    // tie-corrected variance [n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18 with
    // the ±1 continuity correction — every decision integer, the two
    // doubles are final divisions through sqrt (correctly-rounded
    // IEEE, bit-identical cross-engine). Zero-variance degenerates
    // NULL the z (q217 discipline). Same bounded-day-domain pair
    // frame as q320: aggregate first, pairs never touch rows.
    GraftQuery(
      "q327_mann_kendall",
      (s, d) => {
        val dd = t(s, d, "events")
          .groupBy(datediff(to_date(col("ts")), lit("1970-01-01"))
            .cast("long").as("x"))
          .agg(sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
          .localCheckpoint(true) // |days| rows, read 3 ways below
        val a = dd.select(col("x").as("xa"), col("y").as("ya"))
        val b = dd.select(col("x").as("xb"), col("y").as("yb"))
        val p = a.join(b, col("xb") > col("xa"))
          .select(
            when(col("yb") > col("ya"), 1L)
              .when(col("yb") < col("ya"), -1L).otherwise(0L).as("sgn"),
            when(col("yb") === col("ya"), 1L).otherwise(0L).as("tie"))
          .agg(sum(col("sgn")).as("s_stat"), count(lit(1)).as("n_pairs"),
            sum(col("tie")).as("n_tie_pairs"))
        val tg = dd.groupBy(col("y")).agg(count(lit(1)).as("t"))
          .filter(col("t") > 1)
          .agg(coalesce(sum(col("t") * (col("t") - 1) *
            (lit(2L) * col("t") + 5)), lit(0L)).as("tcorr"))
        val n = dd.agg(count(lit(1)).as("n"))
        p.crossJoin(broadcast(n)).crossJoin(broadcast(tg))
          .select(col("n").as("n_points"), col("n_pairs"), col("s_stat"),
            col("n_tie_pairs"),
            round(col("s_stat").cast("double") /
              sqrt(col("n_pairs").cast("double") *
                (col("n_pairs") - col("n_tie_pairs")).cast("double")), 6)
              .as("tau_b"),
            when(col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
                - col("tcorr") > 0,
              round((col("s_stat").cast("double") -
                when(col("s_stat") > 0, 1d)
                  .when(col("s_stat") < 0, -1d).otherwise(0d)) /
                sqrt((col("n") * (col("n") - 1) * (lit(2L) * col("n") + 5)
                  - col("tcorr")).cast("double") / 18d), 6))
              .as("z_mk"))
      },
      Some("""WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
                      CAST(ts AS DATE)) AS BIGINT) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
                    FROM events GROUP BY 1),
              p AS (SELECT CASE WHEN b.y > a.y THEN 1
                                WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn,
                           CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS tie
                    FROM d a JOIN d b ON b.x > a.x),
              s AS (SELECT CAST(sum(sgn) AS BIGINT) AS s_stat,
                           CAST(count(*) AS BIGINT) AS n_pairs,
                           CAST(sum(tie) AS BIGINT) AS n_tie_pairs FROM p),
              tg AS (SELECT CAST(coalesce(sum(t*(t-1)*(2*t+5)), 0) AS BIGINT)
                         AS tcorr FROM
                       (SELECT CAST(count(*) AS BIGINT) AS t FROM d
                        GROUP BY y) WHERE t > 1),
              n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
              SELECT n.n AS n_points, s.n_pairs, s.s_stat, s.n_tie_pairs,
                     round(CAST(s.s_stat AS DOUBLE) /
                       sqrt(CAST(s.n_pairs AS DOUBLE)
                            * CAST(s.n_pairs - s.n_tie_pairs AS DOUBLE)), 6)
                       AS tau_b,
                     CASE WHEN n.n * (n.n - 1) * (2 * n.n + 5) - tg.tcorr > 0
                     THEN round((CAST(s.s_stat AS DOUBLE) -
                            CASE WHEN s.s_stat > 0 THEN 1
                                 WHEN s.s_stat < 0 THEN -1 ELSE 0 END)
                          / sqrt(CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                                      - tg.tcorr AS DOUBLE)
                                 / CAST(18.0 AS DOUBLE)), 6)
                     END AS z_mk
              FROM s CROSS JOIN n CROSS JOIN tg""")),

    // ---- Wald–Wolfowitz runs test on daily revenue MOVES — the
    // randomness check the trend kit assumes away: q320/q327 ask "is
    // there drift"; this asks "are the day-over-day up/down moves
    // independent at all" (too FEW runs = momentum/regimes, too MANY =
    // oscillation — either invalidates iid-style reasoning about the
    // daily series, and the probe shows this corpus OSCILLATES,
    // z ≈ +2.1/+1.3/+2.5 across SFs). Runs counted by integer
    // sign-change flags over the bounded day frame (zero moves drop —
    // the standard convention); E[R] and Var[R] are the exact-long
    // closed forms with single divisions through sqrt; degenerate
    // one-sided series NULL the z (q217 discipline). The lag windows
    // are unpartitioned but run over the ~|days| domain, never rows —
    // the q98 bounded-domain window convention.
    GraftQuery(
      "q328_runs_test",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val byX = Window.orderBy(col("x"))
        val dd = t(s, d, "events")
          .groupBy(datediff(to_date(col("ts")), lit("1970-01-01"))
            .cast("long").as("x"))
          .agg(sum(when(col("event_type") === "purchase",
            floor(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
        val sg = dd
          .select(col("x"), (col("y") - lag(col("y"), 1).over(byX)).as("dy"))
          .filter(col("dy").isNotNull && col("dy") =!= 0)
          .select(col("x"), when(col("dy") > 0, 1L).otherwise(-1L).as("s"))
        val agg = sg
          .select(col("s"),
            when(col("s") =!= lag(col("s"), 1).over(byX), 1L).otherwise(0L)
              .as("brk"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_up"),
            sum(when(col("s") === -1, 1L).otherwise(0L)).as("n_dn"),
            (lit(1L) + sum(col("brk"))).as("runs"))
        agg.select(col("n"), col("n_up"), col("n_dn"), col("runs"),
          round((lit(2L) * col("n_up") * col("n_dn")).cast("double") /
            col("n").cast("double") + 1d, 6).as("e_runs"),
          when(col("n") > 1 &&
            lit(2L) * col("n_up") * col("n_dn") *
              (lit(2L) * col("n_up") * col("n_dn") - col("n")) > 0,
            round((col("runs").cast("double") -
              ((lit(2L) * col("n_up") * col("n_dn")).cast("double") /
                col("n").cast("double") + 1d)) /
              sqrt((lit(2L) * col("n_up") * col("n_dn") *
                (lit(2L) * col("n_up") * col("n_dn") - col("n"))).cast("double") /
                (col("n") * col("n") * (col("n") - 1)).cast("double")), 6))
            .as("z_runs"))
      },
      Some("""WITH d AS (SELECT CAST(date_diff('day', DATE '1970-01-01',
                      CAST(ts AS DATE)) AS BIGINT) AS x,
                      CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
                    FROM events GROUP BY 1),
              mv AS (SELECT x, y - lag(y) OVER (ORDER BY x) AS dy FROM d),
              sg AS (SELECT x, CASE WHEN dy > 0 THEN 1 ELSE -1 END AS s
                     FROM mv WHERE dy IS NOT NULL AND dy <> 0),
              rn AS (SELECT s, CASE WHEN s <> lag(s) OVER (ORDER BY x)
                            THEN 1 ELSE 0 END AS brk FROM sg),
              agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_up,
                        CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_dn,
                        CAST(1 + sum(brk) AS BIGINT) AS runs FROM rn)
              SELECT n, n_up, n_dn, runs,
                     round(CAST(2 * n_up * n_dn AS DOUBLE)
                         / CAST(n AS DOUBLE) + 1, 6) AS e_runs,
                     CASE WHEN n > 1
                          AND 2 * n_up * n_dn * (2 * n_up * n_dn - n) > 0
                     THEN round((CAST(runs AS DOUBLE)
                            - (CAST(2 * n_up * n_dn AS DOUBLE)
                               / CAST(n AS DOUBLE) + 1))
                          / sqrt(CAST(2 * n_up * n_dn
                                      * (2 * n_up * n_dn - n) AS DOUBLE)
                                 / CAST(n * n * (n - 1) AS DOUBLE)), 6)
                     END AS z_runs
              FROM agg""")),

    // ---- Kruskal–Wallis H across the four day-parts — the k-group
    // member of the rank-test family (q287's Mann–Whitney is its
    // k = 2 case; q281's Welch assumes normality, this doesn't): does
    // purchase SPEND distribution differ by time of day. Midranks come
    // from the same bounded-VALUE-domain prefix trick as q287/q98 —
    // per-(value, group) counts, one running-sum window over DISTINCT
    // cents values, 2·midrank = 2F + t + 1 kept exact-long so group
    // rank sums are exact integers; the Σ(2R_g)²/n_g fold runs in
    // group order (q313 convention) with the squares taken in double
    // ((2R)² overflows a long past N ≈ 2¹⁵·⁵ but 2R itself is exact
    // below 2⁵³ — the documented bound; the tie term N³−N holds exact
    // to N < 2²¹). Tie-corrected H' = H / (1 − Σ(t³−t)/(N³−N)),
    // NULL-guarded when all values tie. No per-row sort anywhere.
    GraftQuery(
      "q329_kruskal_wallis",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val p = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .select(expr("hour(ts) DIV 6").as("g"),
            floor(col("value") * 100).cast("long").as("v"))
        val vc = p.groupBy(col("v"), col("g")).agg(count(lit(1)).as("c"))
          .localCheckpoint(true) // |values×groups| rows, read 2 ways
        val vt = vc.groupBy(col("v")).agg(sum(col("c")).as("t"))
        val byV = Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)
        // unpartitioned window — over the bounded VALUE domain, not rows
        val cum = vt.select(col("v"), col("t"),
          coalesce(sum(col("t")).over(byV), lit(0L)).as("f"))
        val r2 = vc.join(cum, "v")
          .groupBy(col("g"))
          .agg(sum(col("c") * (lit(2L) * col("f") + col("t") + 1)).as("r2g"),
            sum(col("c")).as("ng"))
        val tie = vt.agg(sum(col("t") * col("t") * col("t") - col("t"))
          .as("tsum"))
        r2.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
            sort_array(collect_list(struct(col("g"),
              (col("r2g").cast("double") * col("r2g").cast("double") /
                col("ng").cast("double")).as("x")))).as("ts"))
          .crossJoin(broadcast(tie))
          .select(col("n").as("n_obs"), col("k").as("n_groups"),
            col("tsum"),
            (lit(3d) * expr(
              "aggregate(ts, CAST(0.0 AS DOUBLE), (a, b) -> a + b.x)") /
              (col("n").cast("double") * (col("n") + 1).cast("double")) -
              lit(3d) * (col("n") + 1).cast("double")).as("h"))
          .select(col("n_obs"), col("n_groups"), round(col("h"), 6)
            .as("h_stat"),
            when(col("n_obs") * col("n_obs") * col("n_obs") - col("n_obs")
                > col("tsum"),
              round(col("h") / (lit(1d) - col("tsum").cast("double") /
                (col("n_obs") * col("n_obs") * col("n_obs") - col("n_obs"))
                  .cast("double")), 6)).as("h_tie_corrected"))
      },
      Some("""WITH p AS (SELECT hour(ts) // 6 AS g,
                     CAST(floor(value * 100) AS BIGINT) AS v
                   FROM events WHERE event_type = 'purchase'),
              vc AS (SELECT v, g, CAST(count(*) AS BIGINT) AS c
                     FROM p GROUP BY 1, 2),
              vt AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM vc GROUP BY 1),
              cum AS (SELECT v, t, CAST(coalesce(sum(t) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS f
                      FROM vt),
              r2 AS (SELECT vc.g,
                       CAST(sum(vc.c * (2 * cum.f + cum.t + 1)) AS BIGINT)
                         AS r2g,
                       CAST(sum(vc.c) AS BIGINT) AS ng
                     FROM vc JOIN cum ON vc.v = cum.v GROUP BY 1),
              nn AS (SELECT CAST(sum(ng) AS BIGINT) AS n,
                            CAST(count(*) AS BIGINT) AS k FROM r2),
              tie AS (SELECT CAST(sum(t*t*t - t) AS BIGINT) AS tsum FROM vt),
              hh AS (SELECT nn.n, nn.k,
                       list_reduce(list_transform(
                         list(struct_pack(g := g,
                             x := CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
                                / CAST(ng AS DOUBLE)) ORDER BY g),
                         e -> e.x), (a, b) -> a + b) AS sr
                     FROM r2 CROSS JOIN nn GROUP BY nn.n, nn.k),
              hc AS (SELECT n, k,
                       CAST(3.0 AS DOUBLE) * sr
                         / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE))
                         - CAST(3.0 AS DOUBLE) * CAST(n + 1 AS DOUBLE) AS h,
                       tie.tsum
                     FROM hh CROSS JOIN tie)
              SELECT n AS n_obs, k AS n_groups, round(h, 6) AS h_stat,
                     CASE WHEN n*n*n - n > tsum THEN
                       round(h / (1 - CAST(tsum AS DOUBLE)
                                    / CAST(n*n*n - n AS DOUBLE)), 6)
                     END AS h_tie_corrected
              FROM hc""")),

    // ---- Friedman test across day-parts BLOCKED by ISO week — the
    // repeated-measures member of the rank family: q329 pools all days
    // and so conflates "day-parts differ" with "weeks drift" (q327
    // shows the daily series trends); Friedman ranks the four
    // day-parts WITHIN each week, so week-level drift cancels and
    // what remains is the within-week day-part effect. Blocks are
    // date_trunc('week') Mondays (identical both engines); only
    // COMPLETE blocks (all 4 day-parts present) enter, the standard
    // requirement. Midranks come from the 4×4 within-block self-join
    // (blocks are 4 rows — the bounded-frame twin of q327's day-pair
    // join, never row-sized): 2r = 2·#less + #tied_incl_self + 1 kept
    // exact-long, so the tie-corrected statistic
    // χ² = (k−1)·Σ_j(2R_j − n(k+1))² / (Σ(2r)² − nk(k+1)²) is integer
    // arithmetic to the single final division (×4 of the textbook
    // form top and bottom); all-tied degeneracy NULLs it (q217
    // discipline). The complete-block exclusion cannot fire on these
    // fixtures (all 5 weeks complete at every SF — probed), so
    // StatsEvalSpec pins that branch on synthetic input through
    // ops.Stats.friedmanRanks, the shared rank layer. Scale: one
    // corpus scan to |weeks×4| cells; everything after is bounded by
    // the day domain.
    GraftQuery(
      "q332_friedman",
      (s, d) => {
        val cells = t(s, d, "events")
          .filter(col("event_type") === "purchase")
          .groupBy(to_date(date_trunc("week", col("ts"))).as("wk"),
            expr("hour(ts) DIV 6").as("g"))
          .agg(sum(floor(col("value") * 100).cast("long")).as("y"))
        // k=4 passed EXPLICITLY: the statistic constants below (5n,
        // 100n, ×3) assume k=4, and the oracle's HAVING count(*) = 4
        // must agree with the rank layer's completeness filter even if
        // a day-part were globally absent.
        val r2 = graft.ops.Stats.friedmanRanks(
          cells, col("wk"), col("g"), col("y"), k = Some(4))
        val agg = r2.agg(
          count_distinct(col("blk")).as("n"),
          sum(when(col("g") === 0, col("r2")).otherwise(0L)).as("s2_g0"),
          sum(when(col("g") === 1, col("r2")).otherwise(0L)).as("s2_g1"),
          sum(when(col("g") === 2, col("r2")).otherwise(0L)).as("s2_g2"),
          sum(when(col("g") === 3, col("r2")).otherwise(0L)).as("s2_g3"),
          sum(col("r2") * col("r2")).as("sumsq"))
        agg.select(col("n").as("n_blocks"),
          col("s2_g0"), col("s2_g1"), col("s2_g2"), col("s2_g3"),
          when(col("sumsq") - col("n") * 100L > 0L,
            round((lit(3L) *
              ((col("s2_g0") - lit(5L) * col("n")) *
                (col("s2_g0") - lit(5L) * col("n")) +
               (col("s2_g1") - lit(5L) * col("n")) *
                (col("s2_g1") - lit(5L) * col("n")) +
               (col("s2_g2") - lit(5L) * col("n")) *
                (col("s2_g2") - lit(5L) * col("n")) +
               (col("s2_g3") - lit(5L) * col("n")) *
                (col("s2_g3") - lit(5L) * col("n")))).cast("double") /
              (col("sumsq") - col("n") * 100L).cast("double"), 6))
            .as("chi2_f"))
      },
      Some("""WITH p AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
                     hour(ts) // 6 AS g,
                     CAST(floor(value * 100) AS BIGINT) AS yv
                   FROM events WHERE event_type = 'purchase'),
              cells AS (SELECT wk, g, CAST(sum(yv) AS BIGINT) AS y
                        FROM p GROUP BY 1, 2),
              fw AS (SELECT wk FROM cells GROUP BY wk HAVING count(*) = 4),
              cb AS (SELECT cells.* FROM cells JOIN fw USING (wk)),
              r AS (SELECT a.wk, a.g,
                      CAST(2 * sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END)
                         + sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END)
                         + 1 AS BIGINT) AS r2
                    FROM cb a JOIN cb b ON a.wk = b.wk GROUP BY 1, 2),
              agg AS (SELECT CAST(count(DISTINCT wk) AS BIGINT) AS n,
                        CAST(sum(CASE WHEN g = 0 THEN r2 ELSE 0 END)
                          AS BIGINT) AS s2_g0,
                        CAST(sum(CASE WHEN g = 1 THEN r2 ELSE 0 END)
                          AS BIGINT) AS s2_g1,
                        CAST(sum(CASE WHEN g = 2 THEN r2 ELSE 0 END)
                          AS BIGINT) AS s2_g2,
                        CAST(sum(CASE WHEN g = 3 THEN r2 ELSE 0 END)
                          AS BIGINT) AS s2_g3,
                        CAST(sum(r2 * r2) AS BIGINT) AS sumsq
                      FROM r)
              SELECT n AS n_blocks, s2_g0, s2_g1, s2_g2, s2_g3,
                     CASE WHEN sumsq - n * 100 > 0 THEN
                       round(CAST(3 * ((s2_g0 - 5*n) * (s2_g0 - 5*n)
                                     + (s2_g1 - 5*n) * (s2_g1 - 5*n)
                                     + (s2_g2 - 5*n) * (s2_g2 - 5*n)
                                     + (s2_g3 - 5*n) * (s2_g3 - 5*n))
                               AS DOUBLE)
                           / CAST(sumsq - n * 100 AS DOUBLE), 6)
                     END AS chi2_f
              FROM agg""")),

    // ---- Hill tail-index estimator over per-user activity — the
    // order-statistics member of the heavy-tail kit (q264 fits Zipf by
    // ln-ln regression over rank bins; Hill 1975 estimates the tail
    // exponent from the top-k order statistics directly, and is what
    // operations checks before trusting mean-based capacity planning
    // on a power-law workload: α ≤ 2 means the variance is infinite
    // and per-key caps (q66) are load-bearing, not cosmetic).
    // H = (1/k)Σ_{i≤k} ln X(i) − ln X(k+1), α = 1/H, k a scale-free
    // 1% of users (floor 10). NO row sort anywhere: the top-k order
    // statistics come from the per-user-count HISTOGRAM (the q98/q287
    // bounded-VALUE-domain prefix trick) — per-value take =
    // clamp(k − cum_before, 0, f) handles rank-boundary ties exactly,
    // X(k+1) is max{c : cum_incl ≥ k+1}, and the ln terms fold in
    // ascending-value order (the q329 list convention — both engines
    // replay the identical IEEE sequence). Degenerate flat tails
    // (H ≤ 0) NULL α. Scale: one corpus scan to |users|, one
    // aggregate to |distinct counts|; everything after is
    // value-domain-bounded.
    GraftQuery(
      "q334_hill_tail",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hist = t(s, d, "events").filter(col("user_id").isNotNull)
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
          .groupBy(col("c")).agg(count(lit(1)).as("f"))
        val nk = hist.agg(sum(col("f")).as("n"))
          .select(col("n"),
            greatest(expr("n DIV 100"), lit(10L)).as("k"))
        val byC = Window.orderBy(col("c").desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        // unpartitioned window — over the bounded count-VALUE domain
        val tk = hist
          .select(col("c"), col("f"),
            coalesce(sum(col("f")).over(byC), lit(0L)).as("before"))
          .crossJoin(broadcast(nk))
          .select(col("c"), col("f"), col("before"), col("n"), col("k"),
            least(col("f"), greatest(col("k") - col("before"), lit(0L)))
              .as("take"))
          .localCheckpoint(true) // |values| rows, read three ways
        val ls = tk.filter(col("take") > 0)
          .agg(sort_array(collect_list(struct(col("c"),
            (col("take").cast("double") * log(col("c").cast("double")))
              .as("x")))).as("l"))
          .select(expr(
            "aggregate(l, cast(0.0 as double), (acc, e) -> acc + e.x)")
            .as("lnsum"))
        val xk = tk.filter(col("before") + col("f") >= col("k") + 1)
          .agg(max(col("c")).as("x_k1"))
        tk.agg(max(col("n")).as("n_users"), max(col("k")).as("k"))
          .crossJoin(broadcast(ls)).crossJoin(broadcast(xk))
          .select(col("n_users"), col("k"), col("x_k1"),
            round(col("lnsum") / col("k").cast("double") -
              log(col("x_k1").cast("double")), 6).as("hill_h"),
            when(col("lnsum") / col("k").cast("double") -
                log(col("x_k1").cast("double")) > 0d,
              round(lit(1d) / (col("lnsum") / col("k").cast("double") -
                log(col("x_k1").cast("double"))), 6)).as("tail_alpha"))
      },
      Some("""WITH uc AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
                    FROM events WHERE user_id IS NOT NULL GROUP BY 1),
              hist AS (SELECT c, CAST(count(*) AS BIGINT) AS f
                       FROM uc GROUP BY 1),
              nk AS (SELECT CAST(sum(f) AS BIGINT) AS n,
                            CAST(greatest(sum(f) // 100, 10) AS BIGINT) AS k
                     FROM hist),
              tk AS (SELECT c, f,
                       CAST(coalesce(sum(f) OVER (ORDER BY c DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         0) AS BIGINT) AS before,
                       n, k,
                       CAST(least(f, greatest(k - coalesce(sum(f) OVER
                         (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0), 0)) AS BIGINT) AS take
                     FROM hist CROSS JOIN nk),
              ls AS (SELECT list_reduce(list_transform(
                       list(struct_pack(c := c,
                           x := CAST(take AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                         ORDER BY c), e -> e.x),
                       (a, b) -> a + b) AS lnsum
                     FROM tk WHERE take > 0),
              xk AS (SELECT CAST(max(c) AS BIGINT) AS x_k1 FROM tk
                     WHERE before + f >= k + 1)
              SELECT nk.n AS n_users, nk.k, xk.x_k1,
                     round(ls.lnsum / CAST(nk.k AS DOUBLE)
                         - ln(CAST(xk.x_k1 AS DOUBLE)), 6) AS hill_h,
                     CASE WHEN ls.lnsum / CAST(nk.k AS DOUBLE)
                             - ln(CAST(xk.x_k1 AS DOUBLE)) > 0 THEN
                       round(1.0 / (ls.lnsum / CAST(nk.k AS DOUBLE)
                             - ln(CAST(xk.x_k1 AS DOUBLE))), 6)
                     END AS tail_alpha
              FROM nk, ls, xk""")),

    // ---- UCB1 exploration allocation across day-part arms (Auer,
    // Cesa-Bianchi & Fischer 2002) — the DECISION layer of the
    // experimentation kit: q273 sizes a test, q289 audits peeking,
    // q285/q288 read effects out; this answers "which arm gets the
    // next exploration batch" as a standing batch gate. UCB1 is the
    // bandit rule that fits this library's determinism contract —
    // Thompson sampling needs posterior DRAWS (irreproducible
    // cross-engine), UCB is a closed form of exact counts: reward =
    // purchase share per arm (exact longs), bonus = sqrt(2 ln N / n).
    // The choice is taken on the raw double (q323 convention; ties
    // broken by arm id) and reported 6dp. Scale: one corpus scan to
    // four (arm, n, successes) rows; everything after is |arms|-sized.
    // The read layer is ops.Stats.ucbFromCounts, shared byte-identically
    // with the streaming bandit monitor (EventStreams.banditBatch /
    // ucbCurrent — the counts are the rule's sufficient statistic).
    GraftQuery(
      "q335_ucb_allocation",
      (s, d) => graft.ops.Stats.ucbFromCounts(
        t(s, d, "events")
          .groupBy(expr("hour(ts) DIV 6").as("g"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("successes"))),
      Some("""WITH arms AS (SELECT hour(ts) // 6 AS g,
                     CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN event_type = 'purchase'
                          THEN 1 ELSE 0 END) AS BIGINT) AS successes
                   FROM events GROUP BY 1),
              tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM arms),
              sc AS (SELECT g, n, successes,
                       CAST(successes AS DOUBLE) / CAST(n AS DOUBLE)
                         + sqrt(2 * ln(CAST(nn AS DOUBLE))
                                / CAST(n AS DOUBLE)) AS u
                     FROM arms CROSS JOIN tot)
              SELECT g, n, successes,
                     round(CAST(successes AS DOUBLE) / CAST(n AS DOUBLE), 6)
                       AS mean_reward,
                     round(u, 6) AS ucb,
                     CASE WHEN row_number() OVER (ORDER BY u DESC, g) = 1
                          THEN 1 ELSE 0 END AS chosen
              FROM sc ORDER BY g""")),

    // ---- degree assortativity of the co-engagement graph (Newman
    // 2002) — the one-number mixing diagnostic the per-node family
    // (q135 clustering, q144 cores, q228 hubs) doesn't give: do
    // high-degree users co-engage with each other (r > 0, a core-
    // periphery amplification risk for q134's PageRank weights) or
    // with the long tail (r < 0, the usual consumer shape). Pearson
    // correlation of endpoint degrees over edges, in the 4M·S1 − S2²
    // integer form: S1 = Σxy, S2 = Σ(x+y), S3 = Σ(x²+y²) are exact
    // longs over the capped edge frame, r = (4M·S1 − S2²)/(2M·S3 − S2²)
    // one division (exact while M·S1 and S2² stay under 2⁶³ —
    // M < ~10⁶ edges at cap-bounded degrees ~10³; the co-activity cap
    // that bounds the edge build bounds this too). Degenerate
    // (all-equal-degree) graphs NULL r. Scale: degrees are one
    // map-side aggregate off the edge frame; the join-back is
    // |edges|-sized; the statistic is one row.
    GraftQuery(
      "q339_degree_assortativity",
      (s, d) => {
        val e = coEdges(s, d).localCheckpoint(true) // degrees + join-back
        val deg = e.select(col("u1").as("node"))
          .union(e.select(col("u2").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
        val ed = e
          .join(deg.select(col("node").as("u1"), col("deg").as("x")), "u1")
          .join(deg.select(col("node").as("u2"), col("deg").as("y")), "u2")
        ed.agg(count(lit(1)).as("m"),
            sum(col("x") * col("y")).as("s1"),
            sum(col("x") + col("y")).as("s2"),
            sum(col("x") * col("x") + col("y") * col("y")).as("s3"))
          .select(col("m").as("n_edges"), col("s1"), col("s2"), col("s3"),
            when(lit(2L) * col("m") * col("s3") - col("s2") * col("s2")
                =!= 0L,
              round((lit(4L) * col("m") * col("s1") -
                col("s2") * col("s2")).cast("double") /
                (lit(2L) * col("m") * col("s3") -
                  col("s2") * col("s2")).cast("double"), 6))
              .as("assortativity"))
      },
      Some(s"""WITH ${coEdgeSql()},
              deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM
                        (SELECT u1 AS node FROM e UNION ALL SELECT u2 FROM e)
                      GROUP BY 1),
              ed AS (SELECT dx.deg AS x, dy.deg AS y
                     FROM e JOIN deg dx ON dx.node = e.u1
                            JOIN deg dy ON dy.node = e.u2),
              agg AS (SELECT CAST(count(*) AS BIGINT) AS m,
                        CAST(sum(x * y) AS BIGINT) AS s1,
                        CAST(sum(x + y) AS BIGINT) AS s2,
                        CAST(sum(x * x + y * y) AS BIGINT) AS s3
                      FROM ed)
              SELECT m AS n_edges, s1, s2, s3,
                     CASE WHEN 2 * m * s3 - s2 * s2 <> 0 THEN
                       round(CAST(4 * m * s1 - s2 * s2 AS DOUBLE)
                           / CAST(2 * m * s3 - s2 * s2 AS DOUBLE), 6)
                     END AS assortativity
              FROM agg"""))
  )
}
