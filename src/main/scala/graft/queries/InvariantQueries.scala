package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Similarity
import graft.pipelines.MentionRecommender

/** Oracle-checked invariant companions for the ML queries whose raw
  * outputs are not SQL-expressible (float factors, HLL sketches, k-means
  * cells). Each runs the SAME operator as its no-oracle sibling and
  * reduces the output to properties DuckDB can compute independently
  * from the base tables — turning "rows-only" driver entries into green
  * hash rows without pretending the float internals are portable.
  *
  * These complement (don't replace) the ScalaTest invariants: the specs
  * check tighter numeric properties; these put a driver-visible gate on
  * every round.
  */
object InvariantQueries {
  import Tables.{apply => t}

  val all: Seq[GraftQuery] = Seq(

    // ---- q53 companion: ALS output invariants. Every interacting user
    // gets exactly k recommendations (implicit-feedback ALS factors every
    // observed user/item; coldStart=drop removes nothing in-sample), rank
    // positions top out at k, and no recommended item falls outside the
    // observed item set (item factors only exist for observed items).
    GraftQuery(
      "q76_als_invariants",
      (s, d) => {
        val events = t(s, d, "events")
        // one plan over the unordered rows: the observed users and
        // items come from the fit's materialized interactions (no
        // second events scan), one per-user rollup carries every check,
        // and its row count is the coverage
        val (recs, inter) = MentionRecommender.recommendUnordered(events, k = 5, numBlocks = 4)
        val obsUsers = inter.select(col("user").as("u")).distinct()
        val obsItems = inter.select(col("item").as("it")).distinct()
        recs
          .join(obsItems, recs("item") === obsItems("it"), "left")
          .join(obsUsers, recs("user_id") === obsUsers("u"), "left")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("len"), max(col("rn")).as("maxrn"),
            sum(when(col("it").isNull, 1L).otherwise(0L)).as("bad_items"),
            sum(when(col("u").isNull, 1L).otherwise(0L)).as("bad_users"))
          .agg(count(lit(1)).as("n_users_covered"),
            max(col("maxrn")).cast("long").as("max_rn"),
            min(col("len")).as("min_list_len"),
            sum(col("bad_items")).as("n_bad_items"),
            sum(col("bad_users")).as("n_bad_users"))
      },
      Some("""SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_covered,
              CAST(5 AS BIGINT) AS max_rn,
              CAST(5 AS BIGINT) AS min_list_len,
              CAST(0 AS BIGINT) AS n_bad_items,
              CAST(0 AS BIGINT) AS n_bad_users
              FROM events
              WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL""")),

    // ---- q275 companion: item-side ALS output invariants (the q76
    // pattern, mirrored). Every observed item gets exactly k user
    // recommendations (implicit ALS factors every observed user, so the
    // candidate pool is the full user set and coldStart=drop removes
    // nothing in-sample), ranks top out at k, ratings are
    // NON-INCREASING down each item's list (rank order IS score order —
    // checked on the 4dp-rounded ratings, where rounding preserves
    // monotonicity), and every recommended user is an observed one
    // (user factors only exist for observed users).
    GraftQuery(
      "q276_als_item_invariants",
      (s, d) => {
        val events = t(s, d, "events")
        // the q76 shape: one plan over the unordered rows, observed
        // users from the fit's interactions; the lag window sorts
        // within each item by itself
        val (recs, inter) = MentionRecommender.recommendItemsUnordered(events, k = 5, numBlocks = 4)
        val obsUsers = inter.select(col("user").as("u")).distinct()
        val w = Window.partitionBy(col("item")).orderBy(col("rn"))
        recs
          .join(obsUsers, recs("user_id") === obsUsers("u"), "left")
          .withColumn("prev_rating", lag(col("rating"), 1).over(w))
          .groupBy(col("item"))
          .agg(count(lit(1)).as("len"), max(col("rn")).as("maxrn"),
            sum(when(col("rating") > col("prev_rating"), 1L).otherwise(0L))
              .as("rank_viol"),
            sum(when(col("u").isNull, 1L).otherwise(0L)).as("bad_users"))
          .agg(count(lit(1)).as("n_items_covered"),
            max(col("maxrn")).cast("long").as("max_rn"),
            min(col("len")).as("min_list_len"),
            sum(col("rank_viol")).as("n_rank_violations"),
            sum(col("bad_users")).as("n_bad_users"))
      },
      Some("""SELECT CAST(count(DISTINCT CAST(props->>'k' AS INTEGER)) AS BIGINT)
                       AS n_items_covered,
              CAST(5 AS BIGINT) AS max_rn,
              CAST(5 AS BIGINT) AS min_list_len,
              CAST(0 AS BIGINT) AS n_rank_violations,
              CAST(0 AS BIGINT) AS n_bad_users
              FROM events
              WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL""")),

    // ---- q24 companion: the HLL estimate stays within bound per group.
    // 0.02 rsd with a 0.10 acceptance band (5 sigma; same band OpsSpec
    // pins) — the oracle asserts the bound holds, not the sketch value.
    GraftQuery(
      "q77_approx_distinct_bound",
      (s, d) => t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx"),
          countDistinct(col("user_id")).as("exact"))
        .select(col("event_type"),
          (abs(col("approx") - col("exact")).cast("double") / col("exact") <= 0.10)
            .as("within_bound"))
        .orderBy(col("event_type")),
      Some("""SELECT event_type, true AS within_bound FROM events
              GROUP BY event_type ORDER BY event_type""")),

    // ---- q129 companion: winsorization on the 100 TB-practical bounds
    // source — approx_percentile (a mergeable KLL-style sketch, one
    // pass, no full sort) instead of q129's exact interpolated
    // percentiles. Sketch values aren't oracle-expressible, so this is
    // the q77-style band check: each approx bound must land inside the
    // exact [p-0.5%, p+0.5%] RANK band (accuracy 10000 → rank error
    // 1e-4·N, fifty times tighter than the band), and the fraction the
    // approx bounds actually clip stays ≤ 5% (expected ~2%). The clip
    // plumbing — tiny bounds frame broadcast back, scan-side
    // greatest/least — is identical to q129's.
    GraftQuery(
      "q142_winsorize_approx_band",
      (s, d) => {
        val ev = t(s, d, "events")
        val bounds = ev.groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("n"),
            expr("approx_percentile(value, array(0.01, 0.99), 10000)").as("ap"),
            expr("percentile(value, array(0.005, 0.015, 0.985, 0.995))").as("ep"))
          .select(col("event_type"), col("n"),
            col("ap")(0).as("p01a"), col("ap")(1).as("p99a"),
            (col("ap")(0) >= col("ep")(0) && col("ap")(0) <= col("ep")(1))
              .as("p01_in_band"),
            (col("ap")(1) >= col("ep")(2) && col("ap")(1) <= col("ep")(3))
              .as("p99_in_band"))
        ev.join(broadcast(bounds), "event_type")
          .select(col("event_type"), col("n"),
            col("p01_in_band"), col("p99_in_band"),
            when(col("value") < col("p01a") || col("value") > col("p99a"), 1.0)
              .otherwise(0.0).as("clipped"))
          .groupBy(col("event_type"), col("n"),
            col("p01_in_band"), col("p99_in_band"))
          .agg((avg(col("clipped")) <= 0.05).as("clip_frac_ok"))
          .orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
              true AS p01_in_band, true AS p99_in_band, true AS clip_frac_ok
              FROM events GROUP BY event_type ORDER BY event_type""")),

    // ---- Count-min sketch point estimates within bound (Spark's
    // built-in stat.countMinSketch — Cormode & Muthukrishnan 2005;
    // the point-frequency companion to q86's Misra-Gries heavy
    // hitters): the sketch build is the distributed pass (mergeable
    // per-partition sketches, fixed depth×width state — the 100 TB
    // shape); the driver then probes only the exact top-20 tokens —
    // sketch-sized scalar work, the justified collect. CMS guarantees
    // estimate >= true always, and <= true + eps·N with confidence
    // 0.99 PER PROBE; the lower bound is checked per token, the upper
    // as a >=19-of-20-probes gate (probabilistic, so robust to data
    // regeneration), both against exact counts the oracle recomputes
    // independently.
    GraftQuery(
      "q148_cms_bound",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val toks = t(s, d, "documents")
          .select(explode(graft.ops.Portable.tokens(col("text"))).as("tk"))
          .filter(col("tk") =!= "").cache()
        try {
          val eps = 0.0005
          val cms = toks.stat.countMinSketch("tk", eps = eps,
            confidence = 0.99, seed = 42)
          val n = toks.count()
          val top = toks.groupBy(col("tk")).agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("tk")).limit(20)
            .as[(String, Long)].collect()
          val slack = math.ceil(eps * n).toLong
          // lower_ok is a hard CMS guarantee (est >= true, always).
          // The eps·N upper bound is only 99%-confidence PER PROBE, so
          // a dataset regeneration could legitimately push one probe
          // over without any code bug; gate on >= 19 of the 20 probes
          // in bound (P[>=2 misses] ~ 1.7% even at the worst-case 1%
          // per-probe miss rate) rather than per-probe strictness.
          val probes = top.toSeq.map { case (tk, c) =>
            (tk, c, cms.estimateCount(tk))
          }
          val nInBound = probes.count { case (_, c, est) => est <= c + slack }
          probes.map { case (tk, c, est) =>
            (tk, c, est >= c, nInBound >= 19)
          }.toDF("tk", "exact_cnt", "lower_ok", "upper_ok")
            .orderBy(col("tk"))
        } finally toks.unpersist(blocking = false): Unit
      },
      Some("""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tk
                            FROM documents),
              top AS (SELECT tk, CAST(count(*) AS BIGINT) AS exact_cnt
                      FROM toks WHERE tk <> ''
                      GROUP BY 1 ORDER BY exact_cnt DESC, tk LIMIT 20)
              SELECT tk, exact_cnt, true AS lower_ok, true AS upper_ok
              FROM top ORDER BY tk""")),

    // ---- q45 companion: IVF results are genuine. Per query: exactly k
    // candidates came back, every reported cosine recomputes bit-equal
    // from the raw vectors, and none exceeds the exact top-1 cosine (an
    // approximate method can miss the best neighbor, never beat it).
    GraftQuery(
      "q78_ivf_valid",
      (s, d) => {
        val v = Similarity.prepare(t(s, d, "embeddings")).cache()
        val ivf = Similarity.ivfTopK(v, col("id") < 50, k = 3, nlist = 16, nprobe = 4)
        val top1 = Similarity.cosineTopK(v, col("id") < 50, k = 1)
          .select(col("qid").as("t_qid"), col("cos_sim").as("best_cos"))
        val qv = v.select(col("id").as("q_id"), col("v").as("qvec"), col("nrm").as("qn"))
        val nv = v.select(col("id").as("n_id"), col("v").as("nvec"), col("nrm").as("nn"))
        ivf
          .join(qv, col("qid") === col("q_id"))
          .join(nv, col("nid") === col("n_id"))
          .join(top1, col("qid") === col("t_qid"))
          .select(col("qid"), col("cos_sim"), col("best_cos"),
            round(expr("array_dot(qvec, nvec)") / (col("qn") * col("nn")), 6).as("recomp"))
          .groupBy(col("qid"))
          .agg(
            count(lit(1)).as("n_recs"),
            sum(when(col("cos_sim") =!= col("recomp"), 1L).otherwise(0L)).as("n_cos_mismatch"),
            sum(when(col("cos_sim") > col("best_cos"), 1L).otherwise(0L)).as("n_above_best"))
          .orderBy(col("qid"))
      },
      Some("""SELECT vec_id AS qid, CAST(3 AS BIGINT) AS n_recs,
              CAST(0 AS BIGINT) AS n_cos_mismatch,
              CAST(0 AS BIGINT) AS n_above_best
              FROM embeddings WHERE vec_id < 50 ORDER BY qid""")),

    // ---- q50_w1_cv_topk companion: the CountVectorizer cosine space
    // re-expressed relationally (count-weighted inverted-index join over
    // the same per-user item multiset, vocab capped at 200 by TOTAL
    // corpus term count — CountVectorizer's own selection key — with
    // deterministic ties count DESC, item ASC where CV's hashmap order
    // is arbitrary), with q50's tie semantics (sim DESC, other id DESC).
    // Ranking is on the 6dp-rounded cosine: required for oracle
    // portability (raw last-ulp doubles are not cross-engine stable),
    // and the fixture corpora hold no sub-1e-6 near-ties. The cap never
    // binds on the test corpora (100 distinct items), so PipelineSpec
    // can assert agreement with the ml.feature path — the same
    // cross-check q51 provides for the TF-IDF space. Null-user
    // pseudo-docs are excluded up front: topKSimilar's qu <> ou null
    // semantics already keep them out of every q50 result row.
    GraftQuery(
      "q79_w1_cv_relational",
      (s, d) => {
        val tf = t(s, d, "events")
          .select(col("user_id"), Tables.propsItem.as("item"))
          .filter(col("user_id").isNotNull && col("item").isNotNull)
          .groupBy(col("user_id"), col("item"))
          .agg(count(lit(1)).cast("double").as("c"))
          .cache()
        val vocab = tf.groupBy(col("item")).agg(sum(col("c")).as("total"))
          .orderBy(col("total").desc, col("item")).limit(200).select(col("item"))
        val w = tf.join(broadcast(vocab), "item")
        val norms = w.groupBy(col("user_id")).agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
        val q = w.filter(col("user_id") < 30)
          .select(col("user_id").as("query_user"), col("item"), col("c").as("cq"))
        val o = w.select(col("user_id").as("other_user"), col("item").as("item2"),
          col("c").as("co"))
        val sims = q
          .join(o, col("item") === col("item2") && col("query_user") =!= col("other_user"))
          .groupBy(col("query_user"), col("other_user"))
          .agg(sum(col("cq") * col("co")).as("dot"))
          .join(broadcast(norms.select(col("user_id").as("query_user"), col("nrm").as("nq"))),
            "query_user")
          .join(broadcast(norms.select(col("user_id").as("other_user"), col("nrm").as("no"))),
            "other_user")
          .select(col("query_user"), col("other_user"),
            round(col("dot") / (col("nq") * col("no")), 6).as("sim"))
        val rk = Window.partitionBy(col("query_user"))
          .orderBy(col("sim").desc, col("other_user").desc)
        sims.withColumn("rn", row_number().over(rk)).filter(col("rn") <= 5)
          .orderBy(col("query_user"), col("rn"))
      },
      Some("""WITH tf AS (SELECT user_id, CAST(props->>'k' AS INTEGER) AS item,
                                 CAST(count(*) AS DOUBLE) AS c
                          FROM events
                          WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL
                          GROUP BY 1, 2),
              vocab AS (SELECT item FROM
                          (SELECT item, sum(c) AS total FROM tf GROUP BY 1
                           ORDER BY total DESC, item LIMIT 200)),
              w AS (SELECT user_id, tf.item, c FROM tf JOIN vocab ON tf.item = vocab.item),
              norms AS (SELECT user_id, sqrt(sum(c * c)) AS nrm FROM w GROUP BY 1),
              sims AS (SELECT q.user_id AS query_user, o.user_id AS other_user,
                              round(sum(q.c * o.c) / (max(nq.nrm) * max(no.nrm)), 6) AS sim
                       FROM w q JOIN w o ON q.item = o.item AND q.user_id <> o.user_id
                       JOIN norms nq ON nq.user_id = q.user_id
                       JOIN norms no ON no.user_id = o.user_id
                       WHERE q.user_id < 30 GROUP BY 1, 2)
              SELECT query_user, other_user, sim, rn FROM
                (SELECT query_user, other_user, sim,
                        row_number() OVER (PARTITION BY query_user
                                           ORDER BY sim DESC, other_user DESC) AS rn
                 FROM sims)
              WHERE rn <= 5 ORDER BY query_user, rn""")),

    // ---- q49 companion: the deflate ratio is a well-formed quality
    // signal for every document — strictly positive (zlib always emits
    // SOMETHING) and under 1.5 (deflate's worst-case overhead on long
    // incompressible input is a few bytes per 64 KB block, nowhere near
    // 50%). The zlib stream carries a fixed ~11-byte header/checksum that
    // dominates tiny inputs, so the 1.5 bound only applies past 64 chars;
    // shorter docs just need a positive ratio. Per-doc rows so one bad
    // document is visible, with the exact n_chars anchoring the hash.
    GraftQuery(
      "q93_compression_bounds",
      (s, d) => t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          (graft.ops.TextPipeline.compressionRatio(col("text")) > 0.0 &&
            (graft.ops.TextPipeline.compressionRatio(col("text")) <= 1.5 ||
              col("n_chars") < 64))
            .as("ratio_in_range"))
        .orderBy(col("doc_id")),
      Some("""SELECT doc_id, n_chars, true AS ratio_in_range
              FROM documents ORDER BY doc_id""")),

    // ---- q58 companion: word2vec top-k output invariants. Every query
    // user gets exactly k recommendations (enough candidate users exist
    // at every SF), ranks top out at k, cosines of L2-normalized vectors
    // stay in [-1, 1], nobody recommends themselves, and every neighbor
    // is a real featurized user.
    GraftQuery(
      "q94_w2v_topk_invariants",
      (s, d) => {
        val feats = graft.pipelines.UserSimilarity.word2vecFeatures(
          graft.pipelines.UserSimilarity.userDocs(t(s, d, "events"))).cache()
        val recs = graft.pipelines.UserSimilarity.topKSimilar(
          feats, col("user_id") < 30, "w2v_norm")
        val known = feats.select(col("user_id").as("other_user"), lit(1).as("known"))
        recs.join(broadcast(known), Seq("other_user"), "left")
          .groupBy(col("query_user"))
          .agg(
            count(lit(1)).as("n_recs"),
            max(col("rn")).as("max_rn"),
            (sum(when(abs(col("sim_r")) <= 1.000001, 0L).otherwise(1L)) === 0)
              .as("sims_in_unit_range"),
            (sum(when(col("other_user") === col("query_user"), 1L).otherwise(0L)) === 0)
              .as("no_self"),
            (sum(when(col("known").isNull, 1L).otherwise(0L)) === 0)
              .as("neighbors_known"))
          .orderBy(col("query_user"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events
                         WHERE user_id IS NOT NULL AND (props->>'k') IS NOT NULL)
              SELECT user_id AS query_user, CAST(5 AS BIGINT) AS n_recs,
                     CAST(5 AS INTEGER) AS max_rn, true AS sims_in_unit_range,
                     true AS no_self, true AS neighbors_known
              FROM u WHERE user_id < 30 ORDER BY query_user""")),

    // ---- mergeable distinct-count sketches (Apache DataSketches HLL
    // via Spark's hll_sketch_agg/hll_union_agg): one sketch per
    // event_type shard, merged to a global estimate WITHOUT touching
    // rows again — the incremental pattern that replaces recounting a
    // 100 TB corpus when a day's shard arrives (sketch the shard, union
    // with yesterday's sketch: a few KB of state per scope). Sketches
    // aren't portable values, so the oracle asserts the error bound:
    // lgConfigK=12 gives ~1.6% standard error; the 10% band is ~6
    // sigma. The exact counts ride along so the boolean can't pass
    // vacuously.
    GraftQuery(
      "q91_sketch_distinct_union",
      (s, d) => {
        val ev = t(s, d, "events")
        val shard = ev.groupBy(col("event_type"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
            countDistinct(col("user_id")).as("exact"))
        val per = shard.select(col("event_type"),
          col("exact"),
          (abs(expr("hll_sketch_estimate(sk)") - col("exact")).cast("double")
            / col("exact") <= 0.10).as("within_bound"))
        // merge-only path: the global estimate comes from the shard
        // sketches, never from re-scanning events
        val global = shard.agg(
            expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
          .crossJoin(broadcast(
            ev.agg(countDistinct(col("user_id")).as("exact"))))
          .select(lit("_union").as("event_type"), col("exact"),
            (abs(col("est") - col("exact")).cast("double") / col("exact") <= 0.10)
              .as("within_bound"))
        per.unionByName(global).orderBy(col("event_type"))
      },
      Some("""SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact,
                     true AS within_bound
              FROM events GROUP BY event_type
              UNION ALL
              SELECT '_union', CAST(count(DISTINCT user_id) AS BIGINT), true FROM events
              ORDER BY event_type""")),

    // ---- KMV (bottom-k) sketch INTERSECTION — the set operation
    // q91's HLL union can't deliver (HLL unions losslessly but cannot
    // intersect; inclusion-exclusion on three ±2% estimates is noise
    // when the intersection is small): clickers ∩ purchasers from two
    // 256-value sketches. Bottom-k of the p60 hash is FULLY
    // DETERMINISTIC, so unlike the banded q91 this oracle matches the
    // ESTIMATES bit-for-bit — DuckDB replays the identical sketch —
    // and the error-band booleans ride along against the exact counts
    // (k=256 ⇒ ~6% rsd on the union; the intersection inherits it
    // scaled by union/inter, band 0.25·union). Union sketch = bottom-k
    // of the two sketches' union (any global bottom-k member must be
    // in one side's bottom-k); ρ = in-both share of the union sketch;
    // est∩ = ρ·(k−1)·2⁶⁰/v. Degenerate guard: a union smaller than k
    // IS its own sketch — exact counts, no extrapolation. Scale:
    // bottom-k is TakeOrderedAndProject (per-partition k then merge —
    // the sketch build IS the distributed plan); the exact sides here
    // are validation-only companions.
    GraftQuery(
      "q283_kmv_intersection",
      (s, d) => {
        val k = 256
        val M = 1152921504606846976L // 2^60, the p60 range
        val ev = t(s, d, "events").filter(col("user_id").isNotNull)
        def hs(et: String) = ev.filter(col("event_type") === et)
          .select(graft.ops.Portable.p60(col("user_id").cast("string")).as("h"))
          .distinct()
        val a = hs("click").localCheckpoint(true)
        val b = hs("purchase").localCheckpoint(true)
        val skA = a.orderBy(col("h")).limit(k).localCheckpoint(true)
        val skB = b.orderBy(col("h")).limit(k).localCheckpoint(true)
        val u = skA.unionByName(skB).distinct().orderBy(col("h")).limit(k)
        val sk = u
          .join(broadcast(skA.withColumn("ina", lit(1L))), Seq("h"), "left_outer")
          .join(broadcast(skB.withColumn("inb", lit(1L))), Seq("h"), "left_outer")
          .agg(count(lit(1)).as("sk_size"), max(col("h")).as("v"),
            sum(when(col("ina").isNotNull && col("inb").isNotNull, 1L)
              .otherwise(0L)).as("c"))
        val ex = a.agg(count(lit(1)).as("n_a"))
          .crossJoin(b.agg(count(lit(1)).as("n_b")))
          .crossJoin(a.unionByName(b).distinct()
            .agg(count(lit(1)).as("exact_union")))
          .crossJoin(a.join(b, "h").agg(count(lit(1)).as("exact_inter")))
        val estU = when(col("sk_size") < k, col("sk_size").cast("double"))
          .otherwise(lit((k - 1).toDouble) * lit(M.toDouble) /
            col("v").cast("double"))
        val estI = when(col("sk_size") < k, col("c").cast("double"))
          .otherwise(col("c").cast("double") / lit(k.toDouble) *
            (lit((k - 1).toDouble) * lit(M.toDouble) / col("v").cast("double")))
        sk.crossJoin(broadcast(ex))
          .select(lit(k.toLong).as("k"), col("n_a"), col("n_b"),
            col("exact_union"), col("exact_inter"),
            col("sk_size"), col("c").as("in_both"),
            round(estU, 4).as("est_union"), round(estI, 4).as("est_inter"),
            (abs(estU - col("exact_union").cast("double")) <=
              lit(0.20) * col("exact_union").cast("double")).as("union_ok"),
            (abs(estI - col("exact_inter").cast("double")) <=
              lit(0.25) * col("exact_union").cast("double")).as("inter_ok"))
      },
      Some(s"""WITH a AS (SELECT DISTINCT
                            (${graft.ops.Portable.p60Sql("CAST(user_id AS VARCHAR)")}) AS h
                          FROM events
                          WHERE user_id IS NOT NULL AND event_type = 'click'),
               b AS (SELECT DISTINCT
                            (${graft.ops.Portable.p60Sql("CAST(user_id AS VARCHAR)")}) AS h
                          FROM events
                          WHERE user_id IS NOT NULL AND event_type = 'purchase'),
               ska AS (SELECT h FROM a ORDER BY h LIMIT 256),
               skb AS (SELECT h FROM b ORDER BY h LIMIT 256),
               u AS (SELECT DISTINCT h FROM
                       (SELECT h FROM ska UNION ALL SELECT h FROM skb)
                     ORDER BY h LIMIT 256),
               sk AS (SELECT CAST(count(*) AS BIGINT) AS sk_size,
                             CAST(max(u.h) AS BIGINT) AS v,
                             CAST(sum(CASE WHEN ska.h IS NOT NULL
                                            AND skb.h IS NOT NULL
                                      THEN 1 ELSE 0 END) AS BIGINT) AS c
                      FROM u LEFT JOIN ska ON u.h = ska.h
                             LEFT JOIN skb ON u.h = skb.h),
               ex AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
                             (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
                             (SELECT CAST(count(*) AS BIGINT) FROM
                                (SELECT h FROM a UNION SELECT h FROM b))
                               AS exact_union,
                             (SELECT CAST(count(*) AS BIGINT)
                              FROM a JOIN b USING (h)) AS exact_inter),
               es AS (SELECT sk.*, ex.*,
                        CASE WHEN sk_size < 256 THEN CAST(sk_size AS DOUBLE)
                             ELSE 255.0 * 1152921504606846976.0
                                  / CAST(v AS DOUBLE) END AS est_u,
                        CASE WHEN sk_size < 256 THEN CAST(c AS DOUBLE)
                             ELSE CAST(c AS DOUBLE) / 256.0 *
                                  (255.0 * 1152921504606846976.0
                                   / CAST(v AS DOUBLE)) END AS est_i
                      FROM sk CROSS JOIN ex)
               SELECT CAST(256 AS BIGINT) AS k, n_a, n_b,
                      exact_union, exact_inter, sk_size, c AS in_both,
                      round(est_u, 4) AS est_union, round(est_i, 4) AS est_inter,
                      abs(est_u - CAST(exact_union AS DOUBLE))
                        <= 0.20 * CAST(exact_union AS DOUBLE) AS union_ok,
                      abs(est_i - CAST(exact_inter AS DOUBLE))
                        <= 0.25 * CAST(exact_union AS DOUBLE) AS inter_ok
               FROM es""")),

    // ---- q148's shard-merge face (the q98/q91 convention for this
    // sketch): Count-min sketches built INDEPENDENTLY over four
    // disjoint document shards, merged with mergeInPlace, must equal
    // the single-pass global build — not approximately: CMS cells are
    // plain counter sums and the (depth, width, seed) hash family is
    // identical across shards, so merge-then-estimate is bit-equal to
    // build-then-estimate on every probe. That exactness IS the 100 TB
    // claim — per-partition/per-day sketches union into the corpus
    // sketch without a rescan. Probes are the exact top-20 tokens
    // (sketch-sized driver work, the q148 justified collect); the
    // merged sketch must also keep the est >= true lower-bound hard
    // guarantee. Oracle pins the exact counts and the two invariant
    // flags.
    GraftQuery(
      "q159_cms_shard_merge",
      (s, d) => {
        val spark = s
        import spark.implicits._
        val toks = t(s, d, "documents")
          .select(col("doc_id"), explode(graft.ops.Portable.tokens(col("text"))).as("tk"))
          .filter(col("tk") =!= "").cache()
        try {
          val eps = 0.0005
          // four disjoint shards by doc id — each sketch sees only its
          // shard's tokens, as per-day ingest sketches would
          val shards = (0 until 4).map { i =>
            toks.filter(pmod(col("doc_id"), lit(4)) === i)
              .stat.countMinSketch("tk", eps = eps, confidence = 0.99, seed = 42)
          }
          val merged = shards.reduce { (a, b) => a.mergeInPlace(b); a }
          val global = toks.stat.countMinSketch("tk", eps = eps,
            confidence = 0.99, seed = 42)
          val top = toks.groupBy(col("tk")).agg(count(lit(1)).as("c"))
            .orderBy(col("c").desc, col("tk")).limit(20)
            .select(col("tk"), col("c")).as[(String, Long)].collect()
          top.toSeq.map { case (tk, c) =>
            val m = merged.estimateCount(tk)
            (tk, c, m == global.estimateCount(tk), m >= c)
          }.toDF("tk", "exact_cnt", "merged_eq_global", "merged_lower_ok")
            .orderBy(col("tk"))
        } finally toks.unpersist(blocking = false): Unit
      },
      Some("""WITH toks AS (SELECT unnest(string_split_regex(trim(text), '\s+')) AS tk
                            FROM documents),
              top AS (SELECT tk, CAST(count(*) AS BIGINT) AS exact_cnt
                      FROM toks WHERE tk <> ''
                      GROUP BY 1 ORDER BY exact_cnt DESC, tk LIMIT 20)
              SELECT tk, exact_cnt, true AS merged_eq_global, true AS merged_lower_ok
              FROM top ORDER BY tk""")),

    // ---- trailing-24h distinct users per hour via MERGEABLE HLL
    // sketches — the sliding-distinct pattern that makes "daily active
    // users, hourly" tractable at 100 TB: raw events fold ONCE into
    // |hours| tiny hourly sketches (map-side combinable), and each
    // trailing window is a union of ≤24 sketches — never a rescan of
    // raw events, and the sketches ship across days/shards (the q159
    // mergeability story, on HLL). The exact trailing distinct (a
    // 24-hour range self-join — the verdict harness, not the
    // production path; q77's convention) rides along so the output is
    // oracle-checkable: per hour, the estimate must sit within a 5%
    // band of exact. Deterministic: HLL has no RNG, and at the gate's
    // cardinalities the sketch operates in its exact sparse regime —
    // any drift in the hourly fold, the union, or the window
    // membership flips a verdict row.
    GraftQuery(
      "q194_sliding_distinct_sketch",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(date_trunc("hour", col("ts")).as("h"), col("user_id"))
        val hourly = ev.groupBy(col("h"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
        val hours = hourly.select(col("h"))
        // window membership by scan-side EXPLOSION, not a range join: a
        // keyless "h2 BETWEEN h-23h AND h" predicate plans a nested-loop
        // over |hours|² pairs (measured 5.3s at sf0.1 — the range-join
        // trap); instead each hourly row fans out to the ≤24 window ends
        // it belongs to (the q147 sliding-window trick), making both
        // aggregations plain equi-keyed hash work. The semi-join to the
        // observed hour set drops windows that never occur in the data.
        def fanOut(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("k", explode(expr("sequence(0, 23)")))
          .withColumn("h", expr("timestampadd(HOUR, k, h2)"))
          .join(hours, Seq("h"), "left_semi")
        val est = fanOut(hourly.withColumnRenamed("h", "h2"))
          .groupBy(col("h"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = fanOut(ev.distinct().withColumnRenamed("h", "h2"))
          .groupBy(col("h"))
          .agg(countDistinct(col("user_id")).as("exact_users"))
        est.join(exact, "h")
          .select(col("h"), col("exact_users"),
            (abs(col("est") - col("exact_users")) <=
              col("exact_users") * 0.05).as("within_band"))
          .orderBy(col("h"))
      },
      Some("""WITH hu AS (SELECT DISTINCT date_trunc('hour', ts) AS h2, user_id
                          FROM events),
              hours AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events)
              SELECT h, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
                     TRUE AS within_band
              FROM hours JOIN hu ON h2 <= h AND h2 >= h - INTERVAL 23 HOUR
              GROUP BY h ORDER BY h"""))
  )
}
