package graft

import org.apache.spark.sql.functions._
import graft.ops.{MinHashSignature, Portable, Similarity, TextPipeline}
import graft.queries.Tables

/** Cross-checks for the custom ops: the typed MinHash Aggregator against
  * the relational formulation, HLL error bounds, ml.feature n-grams
  * against the SQL shingle builder. */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("MinHashSignature Aggregator == explode+groupBy minima") {
    val hx = Tables(spark, sf, "documents")
      .select(col("doc_id"), Portable.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("s"))
      .distinct()
      .select(col("doc_id"), (Portable.p60(col("s")) % Portable.MinHashPrime).as("hx"))
      .cache()
    val mh = udaf(new MinHashSignature(16))
    val viaAgg = hx.groupBy(col("doc_id"))
      .agg(mh(col("hx")).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val viaGroup = hx
      .withColumn("i", explode(sequence(lit(0), lit(15))))
      .withColumn("hv", expr(s"(CAST(2*i+3 AS BIGINT) * hx + CAST(5*i+7 AS BIGINT)) % ${Portable.MinHashPrime}"))
      .groupBy(col("doc_id"), col("i")).agg(min(col("hv")).as("m"))
      .as[(Long, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(viaAgg.nonEmpty && viaAgg.keySet == viaGroup.keySet)
    viaAgg.foreach { case (doc, sig) => assert(sig == viaGroup(doc), s"doc $doc") }
  }

  test("lshCandidates bandK: prefix-banded wide sketch == narrow-sketch candidates") {
    // the q345 design invariant: the hash family is indexed, so a
    // k=64 signature banded on its first 16 positions must produce
    // the EXACT candidate set of a k=16 run — widening the sketch for
    // estimation can never move the candidates
    val sh = Tables(spark, sf, "documents")
      .select(col("doc_id").as("id"), Portable.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("id"),
        explode(expr("transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("s"))
      .distinct().cache()
    val narrow = graft.ops.Dedup
      .lshCandidates(graft.ops.Dedup.minhashSignatures(sh, 16), 4)
      .as[(Long, Long)].collect().toSet
    val widePrefix = graft.ops.Dedup
      .lshCandidates(graft.ops.Dedup.minhashSignatures(sh, 64), 4,
        bandK = Some(16))
      .as[(Long, Long)].collect().toSet
    assert(narrow.nonEmpty)
    assert(widePrefix == narrow)
    // and full-width banding at k=64 is a DIFFERENT (16-band) run —
    // the thing bandK exists to avoid conflating
    val wideFull = graft.ops.Dedup
      .lshCandidates(graft.ops.Dedup.minhashSignatures(sh, 64), 4)
      .as[(Long, Long)].collect().toSet
    assert(narrow.subsetOf(wideFull))
  }

  test("approx_count_distinct stays within the configured 2% rsd (x5)") {
    val rows = SparkEntry.queries("q24_approx_distinct")(spark, sf)
      .as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (et, approx, exact) =>
      assert(math.abs(approx - exact).toDouble / exact <= 0.10, s"$et: $approx vs $exact")
    }
  }

  test("HLL sketches merge losslessly: union estimate == whole-frame estimate") {
    // the property q91 rides on: sketch shards, union the sketches, and
    // the estimate is IDENTICAL to sketching the unsharded frame (HLL
    // register-max merge is exact, not approximate-on-approximate)
    val ev = Tables(spark, sf, "events")
    val merged = ev.groupBy($"event_type")
      .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
      .as[Double].head()
    val whole = ev.agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est"))
      .as[Double].head()
    assert(merged == whole, s"merge drift: $merged vs $whole")
    val exact = ev.select($"user_id").distinct().count()
    assert(math.abs(merged - exact) / exact <= 0.05, s"estimate $merged vs exact $exact")
  }

  test("bloom probe: zero false negatives, FP rate near build fpp") {
    val n = 20000
    val corpus = (0 until n).map(i => s"doc-$i").toDF("k")
    val bf = corpus.stat.bloomFilter("k", n, 0.03)
    // every inserted key MUST hit — the guarantee incremental dedup
    // leans on (a known duplicate can never survive the probe)
    (0 until n by 7).foreach(i => assert(bf.mightContainString(s"doc-$i")))
    // unseen keys hit at ~fpp, checked with slack
    val fps = (0 until n).count(i => bf.mightContainString(s"new-$i"))
    assert(fps.toDouble / n <= 0.06, s"observed FP rate ${fps.toDouble / n}")
  }

  test("ml.feature NGram(3) equals the SQL shingle builder") {
    val docs = Tables(spark, sf, "documents").limit(50)
    val viaMl = TextPipeline.tokensAndNGrams(docs)
      .select(col("doc_id"), explode(col("ngrams")).as("s")).distinct()
      .as[(Long, String)].collect().toSet
    val viaSql = docs
      .select(col("doc_id"), Portable.tokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        explode(expr("transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("s"))
      .distinct()
      .as[(Long, String)].collect().toSet
    assert(viaMl == viaSql)
  }

  test("word_shingles == transform+concat_ws+array_distinct, order included") {
    // the codegen expression must be BIT-equal (values AND first-
    // occurrence order) to the interpreted HOF chain it replaced, on
    // real fixture text for n in {2, 3, 4}
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables(spark, sf, "documents")
    for (n <- Seq(2, 3, 4)) {
      val gram = (0 until n).map(j => s"w[i+$j]").mkString(", ")
      val both = docs
        .select($"doc_id", graft.ops.Portable.tokens($"text").as("w"))
        .filter(size($"w") >= n)
        .select($"doc_id",
          expr(s"word_shingles(w, $n)").as("fast"),
          expr(s"array_distinct(transform(sequence(0, size(w) - $n), i -> concat_ws(' ', $gram)))")
            .as("ref"))
      assert(both.filter(expr("fast != ref")).count() == 0, s"n=$n diverged")
      assert(both.count() > 0)
    }
  }

  test("simhash64: deterministic, full-width, banded pairs == brute force") {
    val docs = Tables(spark, sf, "documents")
    val fp = graft.ops.Dedup.simhash(docs, bits = 64).cache()
    val fps = fp.as[(Long, Long)].collect()
    assert(fps.nonEmpty)
    // deterministic across evaluations
    assert(graft.ops.Dedup.simhash(docs, bits = 64).as[(Long, Long)]
      .collect().toMap == fps.toMap)
    // the mixed hash really populates the high 32 bits (a zero-padded
    // 32-bit fingerprint would band trivially and void the fan-out claim)
    assert(fps.exists { case (_, h) => (h >>> 32) != 0L })
    // minimal-band candidate generation (3 bands at hamming <= 2) finds
    // exactly the brute-force pairs — pigeonhole completeness holds at
    // the wider width
    val viaBands = graft.ops.Dedup.simhashPairs(fp, maxHamming = 2, fpBytes = 8)
      .select(col("d1"), col("d2"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (i1, h1) <- fps; (i2, h2) <- fps if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 2
    } yield (i1, i2, d)).toSet
    assert(viaBands == brute)
    // the minimal-band output equals the historical byte-banded DIV/mod
    // formulation's — different candidate sets, same exact pairs (both
    // are complete supersets at hamming <= 2)
    val fp32 = graft.ops.Dedup.simhash(docs).cache()
    val shifted = graft.ops.Dedup.simhashPairs(fp32, maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSet
    val divMod = {
      val banded = fp32.withColumn("k", explode(sequence(lit(0), lit(3))))
        .withColumn("byte", expr("(simhash DIV CAST(pow(2, 8 * k) AS BIGINT)) % 256"))
      banded.select(col("id").as("d1"), col("simhash").as("h1"), col("k"), col("byte"))
        .join(banded.select(col("id").as("d2"), col("simhash").as("h2"),
          col("k").as("k2"), col("byte").as("byte2")),
          col("k") === col("k2") && col("byte") === col("byte2") && col("d1") < col("d2"))
        .select(col("d1"), col("d2"), col("h1"), col("h2")).distinct()
        .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
        .filter(col("hamming") <= 2)
        .select(col("d1"), col("d2"), col("hamming"))
        .as[(Long, Long, Int)].collect().toSet
    }
    assert(shifted == divMod)
  }

  test("connectedComponents: chains collapse, separate groups stay apart") {
    // components: {1,2,3,4} (a chain), {10,11}, isolated nodes absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("d1", "d2")
    val comps = graft.ops.Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("LSH components (q298): band-chains group transitively, isolated docs absent") {
    // hand-built 16-long signatures, 4x4 bands: doc 2 shares only band 0
    // with doc 1, doc 3 shares only band 1 with doc 2 (and nothing with
    // doc 1) — the candidate edges are (1,2),(2,3) and the COMPOSITION
    // must close them transitively into one group; doc 4 collides with
    // nobody and must be absent from the output (q46 semantics)
    val sigs = Seq(
      1L -> Seq(1L, 1L, 1L, 1L, 5L, 5L, 5L, 5L, 9L, 9L, 9L, 9L, 13L, 13L, 13L, 13L),
      2L -> Seq(1L, 1L, 1L, 1L, 6L, 6L, 6L, 6L, 10L, 10L, 10L, 10L, 14L, 14L, 14L, 14L),
      3L -> Seq(2L, 2L, 2L, 2L, 6L, 6L, 6L, 6L, 11L, 11L, 11L, 11L, 15L, 15L, 15L, 15L),
      4L -> Seq(3L, 3L, 3L, 3L, 7L, 7L, 7L, 7L, 12L, 12L, 12L, 12L, 16L, 16L, 16L, 16L)
    ).toDF("id", "sig")
    val comps = graft.ops.Dedup.connectedComponents(
      graft.ops.Dedup.lshCandidates(sigs, bandRows = 4))
      .as[(Long, Long)].collect().toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("mergeComponents: star fold over batches == one-shot components") {
    // batch 1 builds {1,2} and {5,6}; batch 2 adds {3,4}; batch 3's
    // single edge (2,3) must merge {1,2} with {3,4} THROUGH the star
    // state (the old pairs are gone), while {5,6} — untouched by any
    // later batch — must survive via its self-anchored star edges
    val batches = Seq(
      Seq((1L, 2L), (5L, 6L)),
      Seq((3L, 4L)),
      Seq((2L, 3L)))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    batches.foreach { b =>
      state = Some(graft.ops.Dedup.mergeComponents(state, b.toDF("d1", "d2"))
        .localCheckpoint(true))
    }
    val got = state.get.as[(Long, Long)].collect().toMap
    val oneShot = graft.ops.Dedup.connectedComponents(
      batches.flatten.toDF("d1", "d2")).as[(Long, Long)].collect().toMap
    assert(got == oneShot)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L))
  }

  test("canonical: best-scored doc kept per component, singletons keep themselves") {
    // component {1,2,3}: doc 2 has the top score; {10,11}: tie -> smaller
    // id; doc 99 never paired -> its own component, kept
    val comps = graft.ops.Dedup.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("d1", "d2"))
    val scored = Seq((1L, 5), (2L, 9), (3L, 7), (10L, 4), (11L, 4), (99L, 1))
      .toDF("doc_id", "score")
    val r = graft.ops.Dedup.canonical(scored, comps)
      .as[(Long, Long, Int, Boolean)].collect()
      .map { case (c, id, _, keep) => id -> ((c, keep)) }.toMap
    assert(r(1L) == ((1L, false)) && r(2L) == ((1L, true)) && r(3L) == ((1L, false)))
    assert(r(10L) == ((10L, true)) && r(11L) == ((10L, false)))
    assert(r(99L) == ((99L, true)))
  }

  test("IVF ANN: reranked cosines are exact; recall vs brute force is nonzero") {
    val prepared = graft.ops.Similarity.prepare(Tables(spark, sf, "embeddings")).cache()
    val brute = graft.ops.Similarity.cosineTopK(prepared, col("id") < 10, k = 5)
      .select($"qid", $"nid", $"cos_sim").as[(Long, Long, Double)].collect()
    val ivf = graft.ops.Similarity.ivfTopK(prepared, col("id") < 10, k = 5,
      nlist = 8, nprobe = 3)
      .select($"qid", $"nid", $"cos_sim").as[(Long, Long, Double)].collect()
    assert(ivf.nonEmpty)
    // IVF cosines must be exact (same rounded value as brute force for
    // the same pair)
    val bruteAll = graft.ops.Similarity.cosineTopK(prepared, col("id") < 10, k = 499)
      .select($"qid", $"nid", $"cos_sim").as[(Long, Long, Double)].collect()
      .map { case (q, n, c) => (q, n) -> c }.toMap
    ivf.foreach { case (q, n, c) => assert(bruteAll((q, n)) == c, s"($q,$n)") }
    // and the probe finds a nonzero share of true neighbors
    val bruteSet = brute.map(t => (t._1, t._2)).toSet
    val hit = ivf.count(t => bruteSet.contains((t._1, t._2)))
    assert(hit > 0, s"IVF recalled 0 of ${bruteSet.size} true top-5 pairs")
  }

  test("top-k faces reject k < 1 and LSH tables < 1, naming the value") {
    val prepared = Similarity.prepare(Tables(spark, sf, "embeddings"))
    val q = col("id") < 5
    Seq[(String, () => Any)](
      "k = 0" -> (() => Similarity.cosineTopK(prepared, q, k = 0)),
      "k = 0" -> (() => Similarity.annTopK(prepared, q, k = 0)),
      "k = -1" -> (() => Similarity.ivfTopK(prepared, q, k = -1)),
      "k = 0" -> (() => Similarity.annTopKTables(prepared, q, k = 0)),
      "tables = 0" -> (() => Similarity.annTopKTables(prepared, q, k = 3, tables = 0)),
      "tables = -2" -> (() => Similarity.hashTables(prepared, tables = -2))
    ).foreach { case (msg, build) =>
      val e = intercept[IllegalArgumentException](build())
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }

  private def chain(t: Throwable): Seq[Throwable] =
    Option(t).toSeq.flatMap(x => x +: chain(x.getCause))

  private def assertRejects(msg: String)(build: => Any): Unit = {
    val e = intercept[Exception](build)
    assert(chain(e).exists {
      case x: IllegalArgumentException => x.getMessage.contains(msg)
      case _ => false
    }, chain(e).map(_.toString).mkString(" | "))
  }

  test("SignLsh built from Scala rejects planes outside 1..63 and dim < 1") {
    val prepared = Similarity.prepare(Tables(spark, sf, "embeddings"))
    assertRejects("planes = 64")(Similarity.withLshBucket(prepared, planes = 64))
    assertRejects("planes = 0")(Similarity.annTopK(prepared, col("id") < 5, k = 3, planes = 0))
    assertRejects("dim = 0")(Similarity.hashTables(prepared, tables = 2, dim = 0))
  }

  test("sign_lsh called from SQL rejects planes outside 1..63 and dim < 1") {
    graft.functions.GraftFunctions.register(spark)
    assertRejects("planes = 64")(
      spark.sql("SELECT sign_lsh(array(1.0D, -1.0D), 64, 64)").collect())
    assertRejects("planes = 0")(
      spark.sql("SELECT sign_lsh(array(1.0D, -1.0D), 0, 64)").collect())
    assertRejects("dim = 0")(
      spark.sql("SELECT sign_lsh(array(1.0D, -1.0D), 4, 0)").collect())
  }

  test("top-k and near-dup rows match across shuffle widths and AQE off") {
    val prepared = Similarity.prepare(Tables(spark, sf, "embeddings")).cache()
    def run(): Seq[Seq[String]] = Seq(
      Similarity.cosineTopK(prepared, col("id") < 20, k = 5),
      Similarity.annTopK(prepared, col("id") < 50, k = 3, planes = 4),
      Similarity.annTopKTables(prepared, col("id") < 50, k = 3, tables = 4, planes = 4),
      Similarity.nearDupPairs(prepared, minCosine = 0.35)
    ).map(_.collect().map(_.toString).toSeq.sorted)
    val runs = Seq("1", "7", "13").map(p =>
      under("spark.sql.shuffle.partitions" -> p)(run())) :+
      under("spark.sql.adaptive.enabled" -> "false")(run())
    runs.tail.foreach(r => assert(r == runs.head))
    runs.head.foreach(rows => assert(rows.nonEmpty)) // the pin is not vacuous
    prepared.unpersist()
  }

  test("bucket joins hash each corpus row once per join side") {
    // from `bucket = bucket2` over a nullable bucket Catalyst infers
    // `isnotnull(bucket)` and pushes it below the hashing projection,
    // hashing every row twice per side; the faces join on a non-null key
    val prepared = Similarity.prepare(Tables(spark, sf, "embeddings"))
    def hashes(df: org.apache.spark.sql.DataFrame): Int =
      "sign_lsh\\(".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    assert(hashes(Similarity.annTopK(prepared, col("id") < 50, k = 3, planes = 4)) == 2)
    assert(hashes(Similarity.lshNearDupPairs(prepared, minCosine = 0.35, planes = 4)) == 2)
    assert(hashes(Similarity.annTopKTables(prepared, col("id") < 50, k = 3,
      tables = 4, planes = 4)) == 2 * 4)
  }

  test("null vectors match nothing in the LSH bucket joins") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val v = (n: Boolean) => AttributeReference("v", ArrayType(DoubleType), nullable = n)()
    assert(graft.functions.SignLsh(v(true), 4, 2).nullable)
    assert(!graft.functions.SignLsh(v(false), 4, 2).nullable)
    // ids 3 and 4 carry null vectors: at the parent's `bucket = bucket2`
    // their null buckets matched nothing, and the non-null join key must
    // keep it so (two null vectors must not pair with each other either)
    val vecs = Seq[(Long, Option[Seq[Double]])](
      0L -> Some(Seq(1.0, 0.1)), 1L -> Some(Seq(1.0, 0.2)), 2L -> Some(Seq(1.0, 0.3)),
      3L -> None, 4L -> None).toDF("vec_id", "embedding")
    val prepared = Similarity.prepare(vecs)
    val faces = Seq(
      Similarity.annTopK(prepared, col("id") < 10, k = 3, planes = 4, dim = 2)
        .select(col("qid"), col("nid")),
      Similarity.lshNearDupPairs(prepared, minCosine = 0.0, planes = 4, dim = 2)
        .select(col("d1"), col("d2")),
      Similarity.annTopKTables(prepared, col("id") < 10, k = 3, tables = 2, planes = 4, dim = 2)
        .select(col("qid"), col("nid")))
    faces.foreach { f =>
      val pairs = f.as[(Long, Long)].collect().toSeq
      assert(pairs.nonEmpty) // the three non-null vectors share a bucket
      assert(pairs.forall { case (a, b) => a < 3 && b < 3 }, pairs)
    }
  }

  test("kaplanMeier: hand-computed survival on a censored fixture") {
    // 6 subjects, durations/events chosen so every KM mechanic fires
    // and the expectations are computable on paper (an independent
    // check the DuckDB oracle can't give — it replays the same
    // arithmetic, so a semantic error shared by both engines would
    // hash-match): events at t=1 (2 of them), t=3, t=5; censoring at
    // t=2 (drops silently from later risk sets, NO output row and NO
    // survival factor — the defining KM behavior) and at t=5
    // alongside an event (counted in c on the t=5 row).
    //   t=1: n_risk=6, d=2          -> S = 4/6            = 0.666667
    //   t=3: n_risk=3 (t>=3), d=1   -> S = (4/6)(2/3)     = 0.444444
    //   t=5: n_risk=2, d=1, c=1     -> S = (4/6)(2/3)(1/2) = 0.222222
    val subjects = Seq(
      (1L, true), (1L, true), (2L, false), (3L, true), (5L, false),
      (5L, true)).toDF("t", "event")
    val got = graft.ops.Survival.kaplanMeier(subjects, col("t"), col("event"))
      .orderBy($"t").as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      (1L, 6L, 2L, 0L, 0.666667),
      (3L, 3L, 1L, 0L, 0.444444),
      (5L, 2L, 1L, 1L, 0.222222)), got.toString)
    // zero-event edge: all censored -> empty output, no descending-
    // sequence fan-out garbage
    val none = Seq((1L, false), (2L, false)).toDF("t", "event")
    assert(graft.ops.Survival.kaplanMeier(none, col("t"), col("event"))
      .count() == 0L)
  }

  test("logRank: fires on divergent curves, silent on identical ones") {
    // positive control — the registered q268 is a null experiment by
    // construction, so the spec must prove the statistic CAN reject:
    // arm 1 dies early (events at t=1,2), arm 0 survives long (events
    // at t=8,9 plus censoring at 10) -> large |z|. And the exact-null
    // control: identical arms -> z == 0 by symmetry.
    val divergent = (
      (1 to 10).map(i => (1, (if (i <= 5) 1L else 2L), true)) ++
      (1 to 10).map(i => (0, (if (i <= 4) 8L else if (i <= 8) 9L else 10L),
        i <= 8))).toDF("arm", "t", "event")
    val r = graft.ops.Survival.logRank(divergent, col("arm"), col("t"),
      col("event"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double], Boolean)]
      .head()
    assert(r._5.exists(z => math.abs(z) > 1.96), r.toString)
    assert(r._6.exists(_ > 3.84), r.toString)
    assert(r._7, r.toString)
    val same = (1 to 8).flatMap(i =>
      Seq((1, i.toLong, i % 3 != 0), (0, i.toLong, i % 3 != 0)))
      .toDF("arm", "t", "event")
    val r0 = graft.ops.Survival.logRank(same, col("arm"), col("t"),
      col("event"))
      .as[(Long, Long, Long, Long, Option[Double], Option[Double], Boolean)]
      .head()
    assert(r0._5.exists(z => math.abs(z) < 1e-9), r0.toString)
    assert(!r0._7, r0.toString)
  }

  test("marginTopMatch: hub demoted — raw-cosine winner loses to the specialist") {
    // engineered 2-D fixture (margins precomputed exactly): corpus id 1
    // is a HUB bisecting the two queries (cos ~0.99 to both), corpus
    // id 3 a specialist for query 0 (cos 0.97, but only 0.86 to query
    // 2). Raw cosine ranks the hub first for query 0; the margin's
    // neighborhood normalization (hub denom ~0.99 vs specialist denom
    // ~0.92) flips it: margin(q0, specialist) = 1.0229 > margin(q0,
    // hub) = 1.0051. Query 2 keeps the hub — it genuinely IS its best.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (2L, Array(0.96f, 0.28f)),
      (1L, Array(0.98995f, 0.14139f)), (3L, Array(0.97f, -0.2431f)))
      .toDF("vec_id", "embedding")
    val prepared = graft.ops.Similarity.prepare(emb)
    val got = graft.ops.Similarity
      .marginTopMatch(prepared, col("id") % 2 === 0, k = 2)
      .select($"qid", $"nid", $"margin").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(0L, 2L)) // exactly one row per query
    assert(got(0L)._1 == 3L, s"hub not demoted: ${got(0L)}")
    assert(got(2L)._1 == 1L, s"q2 should keep the hub: ${got(2L)}")
    assert(math.abs(got(0L)._2 - 1.0229140) < 1e-4, got(0L).toString)
    assert(math.abs(got(2L)._2 - 1.0330821) < 1e-4, got(2L).toString)
  }

  test("quantize: codes in int8 range, dequantized cosine within 2% of exact") {
    val prepared = graft.ops.Similarity.prepare(Tables(spark, sf, "embeddings")).cache()
    val qq = graft.ops.Similarity.quantize(prepared)
    // every code within [-127, 127]
    val outOfRange = qq
      .selectExpr("size(filter(qv, x -> abs(x) > 127)) AS bad")
      .agg(sum(col("bad"))).as[Long].head()
    assert(outOfRange == 0L)
    // 64-dim int8: per-element error <= scale/2, cosine error well under
    // 2% on unit-norm-ish synthetic embeddings — pin the bound the q84
    // err column is expected to stay inside
    val maxErr = SparkEntry.queries("q84_quantized_topk")(spark, sf)
      .agg(max(col("err"))).as[Double].head()
    assert(maxErr <= 0.02, s"quantized cosine drifted: max err $maxErr")
  }

  test("compressionRatio: repetitive text compresses below varied text") {
    val df = Seq(
      (1L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (2L, "the quick brown fox jumps over a lazy dog while seven wizards vex")
    ).toDF("id", "text")
    val r = df.select($"id", graft.ops.TextPipeline.compressionRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) < r(2L), s"repetitive ${r(1L)} !< varied ${r(2L)}")
    assert(r.values.forall(v => v > 0 && v < 1.5))
    // deterministic
    val r2 = df.select($"id", graft.ops.TextPipeline.compressionRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(r == r2)
  }

  test("queryLikelihood: corpus-absent terms drop; present terms still smooth") {
    // a cf=0 term would contribute ln(0) = -Infinity to EVERY doc,
    // collapsing the ranking to an id sort — so absent-everywhere
    // terms are dropped BEFORE scoring, and the score with the
    // phantom term in the bag equals the score without it
    import spark.implicits._
    val docs = Seq((1L, "spark spark table"), (2L, "table chair"),
      (3L, "chair chair chair")).toDF("doc_id", "text")
    val withPhantom = TextPipeline
      .queryLikelihood(docs, Seq("spark", "zzz_absent_term"), mu = 10.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val without = TextPipeline
      .queryLikelihood(docs, Seq("spark"), mu = 10.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(withPhantom == without)
    // every doc scored (docs 2 and 3 lack 'spark' but get the smoothed
    // collection probability), all scores finite
    assert(withPhantom.keySet == Set(1L, 2L, 3L))
    assert(withPhantom.values.forall(v => !v.isInfinite && !v.isNaN))
    // hand-check doc 2: ln((0 + 10*2/8)/(2+10)) — tf=0, cf(spark)=2, T=8
    val expect = math.log((0.0 + 10.0 * 2.0 / 8.0) / (2.0 + 10.0))
    assert(math.abs(withPhantom(2L) - expect) < 1e-12)
  }

  test("StopWordsRemover drops stopwords, keeps content words") {
    val out = TextPipeline.tokensAndNGrams(Seq((1L, "the quick fox and the dog")).toDF("doc_id", "text"))
      .select($"toks_clean").as[Seq[String]].head()
    assert(out == Seq("quick", "fox", "dog"))
  }

  test("Sampling: hash gate is deterministic, rate-accurate, repartition-stable") {
    val events = Tables(spark, sf, "events")
    val n = events.count()
    val s1 = graft.ops.Sampling.uniform(events, col("event_id"), 1000)
    val kept = s1.count()
    // 10% +- 2pp on ~10k keys
    assert(math.abs(kept.toDouble / n - 0.10) < 0.02, s"$kept of $n")
    // same rows regardless of physical layout (the df.sample() failure mode)
    val ids1 = s1.select($"event_id").as[Long].collect().sorted.toSeq
    val ids2 = graft.ops.Sampling.uniform(events.repartition(7), col("event_id"), 1000)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // nested property: a 5% sample is a strict subset of the 10% sample
    // (hash gates nest — what makes rate changes incremental at 100 TB)
    val ids05 = graft.ops.Sampling.uniform(events, col("event_id"), 500)
      .select($"event_id").as[Long].collect().toSet
    assert(ids05.subsetOf(ids1.toSet) && ids05.size < ids1.size)
  }

  test("Sampling: rate-spaced offsets partition the key space (audit rotation)") {
    // the q41 rotation knob's contract: gates at rate r with offsets
    // 0, r, 2r, ... (10000/r of them) are pairwise disjoint and their
    // union is every key — a round-robin audit covers the corpus
    val events = Tables(spark, sf, "events")
    val strata = (0 until 5).map { i =>
      graft.ops.Sampling.uniform(events, col("event_id"), rateBp = 2000,
          offsetBp = i * 2000)
        .select($"event_id").as[Long].collect().toSet
    }
    for (i <- strata.indices; j <- strata.indices if i < j)
      assert(strata(i).intersect(strata(j)).isEmpty, s"strata $i and $j overlap")
    val all = events.select($"event_id").as[Long].collect().toSet
    assert(strata.reduce(_ union _) == all)
    // offset 0 is the historical un-rotated gate (backwards compatible)
    val legacy = events.filter(
      pmod(graft.ops.Portable.p60(col("event_id").cast("string")), lit(10000)) < 2000)
      .select($"event_id").as[Long].collect().toSet
    assert(strata(0) == legacy)
  }

  test("Sampling: stratified rates apply per stratum; unlisted strata drop") {
    val events = Tables(spark, sf, "events")
    val out = graft.ops.Sampling.stratified(events, col("event_id"), col("event_type"),
      Map("purchase" -> 10000, "click" -> 500), defaultBp = 0)
    val byType = out.groupBy($"event_type").count()
      .as[(String, Long)].collect().toMap
    val allPurchases = events.filter($"event_type" === "purchase").count()
    assert(byType("purchase") == allPurchases) // 100% stratum intact
    assert(byType.get("view").isEmpty && byType.get("error").isEmpty) // default drops
    val allClicks = events.filter($"event_type" === "click").count()
    assert(byType("click") < allClicks / 10) // 5% stratum way down
  }

  test("Prefix.runningSum == global-window cumulative, negative keys included") {
    import org.apache.spark.sql.expressions.Window
    // sparse, unordered, negative-through-positive keys; bucket width 4
    // forces many buckets and exercises the offset join
    val rows = Seq(-9L, -4L, -1L, 0L, 3L, 7L, 12L, 40L, 41L, 1000L)
      .map(k => (k, k * 3 + 100)) // arbitrary values
    val df = rows.toDF("k", "v").repartition(5)
    val got = graft.ops.Prefix.runningSum(df, "k", "v", bucketWidth = 4L)
      .select($"k", $"cum").as[(Long, Long)].collect().toMap
    val expect = df
      .withColumn("cum", sum($"v").over(Window.orderBy($"k")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"k", $"cum").as[(Long, Long)].collect().toMap
    assert(got == expect)
    // the floor-div bucketing really splits negatives from positives
    // (a truncate-toward-zero DIV would fold -3..3 into one bucket and
    // break ordering across zero)
    assert(got(-9L) == rows.filter(_._1 <= -9).map(_._2).sum)
  }

  test("Prefix.runningSum is exact past 2^53 (epoch-nanos keys)") {
    // adjacent keys at ~2^60 differ by 1 — far below double's ULP
    // there, so the old floor(key / width.toDouble) bucketing folded
    // them unpredictably; the integer floor-div must keep them ordered
    val base = 1L << 60
    val rows = Seq(base - 1, base, base + 1, base + 5000)
      .map(k => (k, 10L))
    val df = rows.toDF("k", "v").repartition(3)
    val got = graft.ops.Prefix.runningSum(df, "k", "v", bucketWidth = 1024L)
      .select($"k", $"cum").as[(Long, Long)].collect().toMap
    assert(got == Map((base - 1) -> 10L, base -> 20L,
      (base + 1) -> 30L, (base + 5000) -> 40L), got.toString)
  }

  test("epochUpsample: full epochs whole, fractional epoch is the hash gate") {
    val docs = Tables(spark, sf, "documents").select($"doc_id")
    val n = docs.count()
    val up = graft.ops.Sampling.epochUpsample(docs, col("doc_id"),
      fullEpochs = 2, fracBp = 5000)
    val byEpoch = up.groupBy($"epoch").count().as[(Int, Long)].collect().toMap
    assert(byEpoch(0) == n && byEpoch(1) == n) // full passes intact
    // fractional pass = exactly the uniform 50% gate's rows
    val frac = up.filter($"epoch" === 2).select($"doc_id").as[Long].collect().toSet
    val gate = graft.ops.Sampling.uniform(docs, col("doc_id"), 5000)
      .select($"doc_id").as[Long].collect().toSet
    assert(frac == gate && frac.nonEmpty && frac.size < n)
    // layout-independent (the replay guarantee)
    val up2 = graft.ops.Sampling.epochUpsample(docs.repartition(7), col("doc_id"),
      fullEpochs = 2, fracBp = 5000)
      .select($"epoch", $"doc_id").as[(Int, Long)].collect().sorted.toSeq
    assert(up2 == up.select($"epoch", $"doc_id").as[(Int, Long)].collect().sorted.toSeq)
  }

  test("lengthBuckets: bucket assignment and pad-waste arithmetic") {
    val docs = Seq(
      (1L, "a b c d e"),                      // 5 tokens  -> bucket 0
      (2L, "a b c d e f g h i j"),            // 10 tokens -> bucket 0
      (3L, ("x " * 40).trim)                  // 40 tokens -> bucket 1
    ).toDF("doc_id", "text")
    val out = graft.ops.TextPipeline.lengthBuckets(docs, widthTokens = 32)
      .orderBy($"bucket")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(out.toSeq == Seq(
      (0L, 2L, 15L, 10L, 5L, 250000L), // pad to max 10: 5/20 wasted = 250000 ppm
      (1L, 1L, 40L, 40L, 0L, 0L)))
  }

  test("Sampling.mix tags origins and respects weights") {
    val docs = Tables(spark, sf, "documents")
    val mixed = graft.ops.Sampling.mix(Seq(
      ("full", docs, 10000), ("half", docs, 5000)), key = "doc_id")
    val byTag = mixed.groupBy($"source").count().as[(String, Long)].collect().toMap
    val n = docs.count()
    assert(byTag("full") == n)
    assert(math.abs(byTag("half").toDouble / n - 0.5) < 0.1, byTag)
  }

  test("chunk: windows tile with overlap and cover every token") {
    val doc = (1 to 150).map(i => s"t$i").mkString(" ") // 150 tokens
    val chunks = TextPipeline.chunk(Seq((1L, doc)).toDF("doc_id", "text"),
      chunkSize = 64, stride = 48)
      .orderBy($"chunk_id")
      .select($"chunk_id", $"n_tokens").as[(Int, Int)].collect().toSeq
    // ceil((150-64)/48)+1 = 3 chunks: [1..64], [49..112], [97..150]
    assert(chunks == Seq((0, 64), (1, 64), (2, 54)), chunks.toString)
    // short doc -> one chunk of its full length
    val one = TextPipeline.chunk(Seq((2L, "a b c")).toDF("doc_id", "text"))
      .select($"chunk_id", $"n_tokens").as[(Int, Int)].collect().toSeq
    assert(one == Seq((0, 3)))
  }

  test("rrfFuse: hand-computed fusion, single-list candidates, tie order") {
    import graft.ops.Similarity
    // q1: doc 10 ranks 1 in both (rrf 2/61); doc 20 only in A at rank 2
    // (1/62); doc 30 only in B at rank 2 (1/62) — ties break on nid
    val a = Seq((1L, 10L, 1), (1L, 20L, 2)).toDF("qid", "nid", "rn")
    val b = Seq((1L, 10L, 1), (1L, 30L, 2)).toDF("qid", "nid", "rn")
    val got = Similarity.rrfFuse(a, b, k = 3)
      .orderBy($"fused_rank")
      .select($"nid", $"rrf", $"fused_rank")
      .as[(Long, Double, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(10L, 20L, 30L), got.toString)
    assert(math.abs(got(0)._2 - 2.0 / 61) < 1e-15)
    assert(math.abs(got(1)._2 - 1.0 / 62) < 1e-15 && got(1)._2 == got(2)._2)
    // k cuts the fused list; a doc in one list only keeps a null rank
    val cut = Similarity.rrfFuse(a, b, k = 1).collect()
    assert(cut.length == 1 && cut.head.getLong(1) == 10L)
    val nulls = Similarity.rrfFuse(a, b, k = 3)
      .filter($"nid" === 30L).select($"rank_a").head()
    assert(nulls.isNullAt(0))
  }

  test("spanCorrupt: sentinels round-trip, token conservation, rate-0/10000 edges") {
    // token conservation: input carries n_tokens - n_masked survivors
    // plus n_spans sentinels; target carries n_masked + n_spans tokens;
    // sentinel k appears exactly once in each, in reading order
    val doc = (1 to 47).map(i => s"w$i").mkString(" ") // short final block
    val rows = TextPipeline.spanCorrupt(
        Tables(spark, sf, "documents").select($"doc_id", $"text").limit(50)
          .unionByName(Seq((9999L, doc)).toDF("doc_id", "text")))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (nt, ns, nm) = (r.getInt(1), r.getInt(2), r.getLong(3))
      val in = r.getString(4).split("\\s+").filter(_.nonEmpty)
      val tg = if (r.getString(5).isEmpty) Array.empty[String]
        else r.getString(5).split("\\s+")
      assert(in.length == nt - nm + ns, s"input len: $r")
      assert(tg.length == nm + ns, s"target len: $r")
      val sentsIn = in.filter(_.startsWith("<extra_id_"))
      val sentsTg = tg.filter(_.startsWith("<extra_id_"))
      val want = (0 until ns).map(k => s"<extra_id_$k>")
      assert(sentsIn.toSeq == want, s"input sentinels: ${sentsIn.toSeq}")
      assert(sentsTg.toSeq == want, s"target sentinels: ${sentsTg.toSeq}")
      // reconstruction: substituting each sentinel's target span back
      // into the input reproduces the original token count
      assert((in.length - ns) + (tg.length - ns) == nt)
    }
    // rate 0 -> nothing masked, input == original tokens; rate 10000 ->
    // every block masked
    val tiny = Seq((1L, (1 to 25).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val none = TextPipeline.spanCorrupt(tiny, rateBp = 0).head()
    assert(none.getInt(2) == 0 && none.getLong(3) == 0L &&
      none.getString(4) == (1 to 25).map(i => s"t$i").mkString(" ") &&
      none.getString(5) == "")
    val full = TextPipeline.spanCorrupt(tiny, rateBp = 10000).head()
    // 25 tokens, block 10 -> 3 blocks; last block has 5 tokens, masks 3
    assert(full.getInt(2) == 3 && full.getLong(3) == 9L, full.toString)
  }

  test("capPerKey: at most k per key, hash-stable across layouts") {
    val events = Tables(spark, sf, "events")
    val capped = graft.ops.Sampling.capPerKey(events, col("user_id"), col("event_id"), k = 3)
    val sizes = capped.groupBy($"user_id").count().as[(Long, Long)].collect()
    assert(sizes.forall(_._2 <= 3) && sizes.exists(_._2 == 3))
    val ids1 = capped.select($"event_id").as[Long].collect().sorted.toSeq
    val ids2 = graft.ops.Sampling
      .capPerKey(events.repartition(5), col("user_id"), col("event_id"), k = 3)
      .select($"event_id").as[Long].collect().sorted.toSeq
    assert(ids1 == ids2)
    // hash order, not natural order: the kept set is NOT just the lowest
    // event_ids per user
    val lowest = events.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id").orderBy($"event_id")))
      .filter($"rn" <= 3).select($"event_id").as[Long].collect().sorted.toSeq
    assert(ids1 != lowest)
  }

  test("boilerplate: shared block detected, unique text scores zero") {
    val header = (1 to 16).map(i => s"hdr$i").mkString(" ")
    val docs = Seq(
      (1L, header + " " + (1 to 16).map(i => s"a$i").mkString(" ")),
      (2L, header + " " + (1 to 16).map(i => s"b$i").mkString(" ")),
      (3L, (1 to 32).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextPipeline.boilerplate(docs, blockTokens = 16, minDf = 2)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_blocks", $"n_boiler").as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L, 1L), (2L, 2L, 1L), (3L, 2L, 0L)), out.toString)
  }

  test("unigramLogProb: rare-token docs score above common-token docs") {
    val df = Seq(
      (1L, "common common common common"),
      (2L, "common common rare1 rare2")
    ).toDF("doc_id", "text")
    val out = TextPipeline.unigramLogProb(df)
      .select($"id", $"avg_neg_logprob").as[(Long, Double)].collect().toMap
    assert(out(2L) > out(1L), out.toString) // rare tokens cost more bits
    // doc 1 is all-modal tokens: -ln(6/8) each
    assert(math.abs(out(1L) - (-math.log(6.0 / 8.0))) < 1e-6)
  }

  test("dupSpanRatio: cloned docs score 1, unique doc 0, partial in between") {
    val docs = Seq(
      (1L, "a b c d e f g h"),            // one 8-gram, cloned in doc 2
      (2L, "a b c d e f g h"),
      (3L, "p q r s t u v w x"),          // two 8-grams, both unique
      (4L, "a b c d e f g h unique tail") // 3 spans, first == docs 1/2
    ).toDF("doc_id", "text")
    val r = TextPipeline.dupSpanRatio(docs, n = 8)
      .select($"doc_id", $"n_spans", $"n_dup_spans", $"dup_ratio")
      .as[(Long, Long, Long, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 1L, 1L, 1.0)))
    assert(r(2L) == ((2L, 1L, 1L, 1.0)))
    assert(r(3L) == ((3L, 2L, 0L, 0.0)))
    assert(r(4L) == ((4L, 3L, 1L, 0.333333)))
    // short docs (< n tokens) emit no row rather than a 0/0 ratio
    assert(!TextPipeline.dupSpanRatio(Seq((9L, "too short")).toDF("doc_id", "text"), n = 8)
      .collect().exists(_ => true))
  }

  test("decontaminate: overlap with the benchmark flags, clean docs pass") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),   // shares "alpha beta gamma" + "beta gamma delta"
      (2L, "omega psi chi"),            // clean
      (3L, "x y")                       // too short for a 3-gram: clean by construction
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val r = TextPipeline.decontaminate(train, bench, n = 3)
      .select($"doc_id", $"n_shared_grams", $"contaminated")
      .as[(Long, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 2L, true)))
    assert(r(2L) == ((2L, 0L, false)))
    assert(r(3L) == ((3L, 0L, false)))  // every train doc gets a row
  }

  test("repetition: degenerate loop scores 1, distinct text scores 0") {
    val docs = Seq(
      (1L, "a a a a"),          // bigrams: "a a" x3 -> top 1.0, dup 1.0
      (2L, "a b c d"),          // all distinct -> top 1/3, dup 0
      (3L, "x y x y x")         // "x y" x2, "y x" x2 -> top 0.5, dup 1.0
    ).toDF("doc_id", "text")
    val r = TextPipeline.repetition(docs, n = 2)
      .select($"doc_id", $"n_grams", $"top_ratio", $"dup_ratio")
      .as[(Long, Long, Double, Double)].collect().map(t => t._1 -> t).toMap
    assert(r(1L) == ((1L, 3L, 1.0, 1.0)))
    assert(r(2L) == ((2L, 3L, 0.333333, 0.0)))
    assert(r(3L) == ((3L, 4L, 0.5, 1.0)))
  }

  test("redact: scrubs every hit, counts them, leaves clean text alone") {
    val df = Seq(
      (1L, "user=123 did x then user=456 did y"),
      (2L, "nothing to see")
    ).toDF("id", "line")
    val (scrubbed, hits) = TextPipeline.redact($"line", "user=[0-9]+", "user=[PII]")
    val out = df.select($"id", scrubbed.as("s"), hits.as("n"))
      .as[(Long, String, Int)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) == (("user=[PII] did x then user=[PII] did y", 2)))
    assert(out(2L) == (("nothing to see", 0)))
  }

  test("bm25: term-bearing docs score, rarer term outranks common one") {
    val df = Seq(
      (1L, "rare common common common filler filler"),
      (2L, "common filler filler filler filler text"),
      (3L, "filler text only here nothing else")
    ).toDF("doc_id", "text")
    val scores = TextPipeline.bm25(df, Seq("rare", "common"))
      .as[(Long, Double)].collect().toMap
    assert(!scores.contains(3L)) // no query term -> no row
    assert(scores(1L) > scores(2L)) // doc 1 has the rare term + more tf
    assert(scores.values.forall(_ > 0))
  }

  test("scrubSharedSpans: shared span dropped, unique spans reassemble in order") {
    // 12-token docs at window 4 -> 3 spans each; docs 1 and 2 share
    // their MIDDLE span verbatim, doc 3 is all-unique
    val shared = "x1 x2 x3 x4"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $shared b1 b2 b3 b4"),
      (2L, s"c1 c2 c3 c4 $shared d1 d2 d3 d4"),
      (3L, "e1 e2 e3 e4 f1 f2 f3 f4 g1 g2 g3 g4")
    ).toDF("doc_id", "text")
    val out = TextPipeline.scrubSharedSpans(docs, windowTokens = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == (("a1 a2 a3 a4 b1 b2 b3 b4", 2L, 1L)))
    assert(out(2L) == (("c1 c2 c3 c4 d1 d2 d3 d4", 2L, 1L)))
    assert(out(3L) == (("e1 e2 e3 e4 f1 f2 f3 f4 g1 g2 g3 g4", 3L, 0L)))
  }

  test("sqrtTempRates: smallest source whole, rates fall with sqrt of size") {
    val docs = Seq.tabulate(700) { i =>
      val src = if (i < 100) "s100" else if (i < 300) "s200" else "s400"
      (i.toLong, src, 10L) // 10 tokens each -> totals 1000/2000/4000
    }.toDF("doc_id", "source", "n_toks")
    val rates = graft.ops.Sampling
      .sqrtTempRates(docs, col("source"), col("n_toks"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    // isqrt: 31, 44, 63 -> rates 10000, 10000*31/44=7045, 10000*31/63=4920
    assert(rates("s100") == 10000L)
    assert(rates("s200") == 7045L)
    assert(rates("s400") == 4920L)
  }

  test("sqrtTempRates: zero-token source is excluded, others keep their rates") {
    // without the n_tokens > 0 guard the zero source's isq=0 becomes
    // min_isq=0, flooring every other rate to 0 and making its own
    // rate NULL — the whole corpus silently samples to empty
    val docs = Seq(
      (1L, "empty", 0L), (2L, "empty", 0L),
      (3L, "s100", 100L), (4L, "s400", 400L)
    ).toDF("doc_id", "source", "n_toks")
    val rates = graft.ops.Sampling
      .sqrtTempRates(docs, col("source"), col("n_toks"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(!rates.contains("empty"))
    assert(rates("s100") == 10000L) // isqrt 10 vs 20
    assert(rates("s400") == 5000L)
  }

  test("bigramLogProb: hand-computed smoothed conditional on a tiny corpus") {
    // two identical docs "a b": c(a,b)=2, c_hist(a)=2, V=2
    // p(b|a) = (2+1)/(2+2) = 0.75 -> nll = -ln(0.75) = 0.287682 (6dp)
    val docs = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    val out = TextPipeline.bigramLogProb(docs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == ((1L, 0.287682)))
    assert(out(2L) == ((1L, 0.287682)))
  }

  test("Intervals.merge: overlap and touch merge, gaps split, keys independent") {
    val iv = Seq(
      ("a", 1L, 5L), ("a", 3L, 9L),   // overlap -> one island [1,9]
      ("a", 9L, 12L),                  // touching START==prev end: merges
      ("a", 20L, 25L),                 // gap -> new island
      ("b", 2L, 4L)                    // other key: its own island
    ).toDF("k", "s", "e")
    val got = graft.ops.Intervals.merge(iv, $"k", $"s", $"e")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("a", 1L, 12L, 3L), ("a", 20L, 25L, 1L), ("b", 2L, 4L, 1L)))
    val cov = graft.ops.Intervals.coverage(iv, $"k", $"s", $"e")
      .as[(String, Long, Long)].collect().toSet
    assert(cov == Set(("a", 2L, 16L), ("b", 1L, 2L)))
  }

  test("Intervals.merge: nested interval does not extend its island") {
    // [1,10] fully contains [2,3]; then [11,12] touches 10? no — 11 > 10
    // strictly, so it's a NEW island: the running max must come from the
    // containing interval, not the most recent start
    val iv = Seq(("k", 1L, 10L), ("k", 2L, 3L), ("k", 11L, 12L)).toDF("k", "s", "e")
    val got = graft.ops.Intervals.merge(iv, $"k", $"s", $"e")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(("k", 1L, 10L, 2L), ("k", 11L, 12L, 1L)))
  }

  test("Prorate.largestRemainder: exact sums, residue ranking, ties to lowest id") {
    import graft.ops.Prorate
    // equal weights, T=10 over 3: one extra unit, tie broken to id 1
    val eq = Seq(("o", 1L, 1L, 10L), ("o", 2L, 1L, 10L), ("o", 3L, 1L, 10L))
      .toDF("k", "i", "w", "t")
    val g1 = Prorate.largestRemainder(eq, $"k", $"i", $"w", $"t")
      .as[(String, Long, Long, Long)].collect().map(r => r._2 -> r._4).toMap
    assert(g1 == Map(1L -> 4L, 2L -> 3L, 3L -> 3L))
    // 3:1 over T=7 — exact shares 5.25/1.75; the LARGER residue (id 2)
    // takes the extra unit even though id 1 has the larger weight
    val uneq = Seq(("o", 1L, 3L, 7L), ("o", 2L, 1L, 7L)).toDF("k", "i", "w", "t")
    val g2 = Prorate.largestRemainder(uneq, $"k", $"i", $"w", $"t")
      .as[(String, Long, Long, Long)].collect().map(r => r._2 -> r._4).toMap
    assert(g2 == Map(1L -> 5L, 2L -> 2L))
    // the defining invariant on real data: shares sum EXACTLY to each
    // order's cent total, for every order
    val li = Tables(spark, sf, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("ln"),
        col("l_quantity").cast("long").as("qty"))
    val ord = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice") * 100).cast("long").as("cents"))
    val leak = Prorate.largestRemainder(
        li.join(ord, col("l_orderkey") === col("o_orderkey")),
        col("l_orderkey"), col("ln"), col("qty"), col("cents"))
      .groupBy(col("key")).agg(sum(col("alloc")).as("got"))
      .join(ord, col("key") === col("o_orderkey"))
      .filter(col("got") =!= col("cents"))
    assert(leak.count() == 0)
  }

  test("Prorate.largestRemainder: t*w long overflow fails loudly, names the key") {
    import graft.ops.Prorate
    // t*w = 2^62 * 4 wraps a long — the guard must raise, not allocate
    // garbage (the silent-wrap failure produces negative shares)
    val bad = Seq(("hot", 1L, 4L, Long.MaxValue / 2), ("hot", 2L, 1L, Long.MaxValue / 2))
      .toDF("k", "i", "w", "t")
    val e = intercept[Exception] {
      Prorate.largestRemainder(bad, $"k", $"i", $"w", $"t").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m => m.contains("overflows LONG") && m.contains("key=hot")),
      messages(e).mkString(" | "))
    // and the guard is inert on clean inputs near the edge: t*w just
    // below 2^63 allocates exactly t
    val edge = Seq(("k", 1L, 2L, Long.MaxValue / 2)).toDF("k", "i", "w", "t")
    val got = Prorate.largestRemainder(edge, $"k", $"i", $"w", $"t")
      .as[(String, Long, Long, Long)].collect()
    assert(got.toSeq == Seq(("k", 1L, 2L, Long.MaxValue / 2)))
  }

  test("Ewma.segmented: any segment grain composes to the flat fold (q198 recurrence)") {
    import graft.ops.Ewma
    // deterministic pseudo-random values, two independent keys
    val n = 200
    def v(i: Int): Double = ((i * 2654435761L) % 1000).toDouble / 10.0
    val rows = (0 until n).flatMap(i =>
      Seq(("u", i.toLong, v(i)), ("w", i.toLong, v(i) + 1.0)))
    val df = rows.toDF("k", "i", "x")
    def flat(off: Double): Double =
      (1 until n).foldLeft(v(0) + off)((e, i) => e * 0.9 + 0.1 * (v(i) + off))
    // grain 1 = every element its own segment (pure pair composition),
    // grain 200 = one segment (pure flat fold), grains 7/50 = the mixed
    // case; all must land on the sequential recurrence within ulp noise
    for (g <- Seq(1, 7, 50, 200)) {
      val got = Ewma.segmented(df, $"k", expr(s"i DIV $g"), Seq($"i"), $"x", 0.1)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(got("u")._1 == n && got("w")._1 == n)
      assert(math.abs(got("u")._2 - flat(0.0)) < 1e-9, s"grain $g: ${got("u")}")
      assert(math.abs(got("w")._2 - flat(1.0)) < 1e-9, s"grain $g: ${got("w")}")
    }
    // single-row key: ewma is the value itself (seed semantics; the
    // fixed-point seed is ulp-inexact in IEEE — 0.9·42 + 0.1·42 lands
    // one ulp off 42 — which is exactly the jitter the 6dp grain eats)
    val one = Seq(("s", 0L, 42.0)).toDF("k", "i", "x")
    val g1 = Ewma.segmented(one, $"k", expr("i DIV 7"), Seq($"i"), $"x", 0.1)
      .collect().head
    assert(g1.getLong(1) == 1 && math.abs(g1.getDouble(2) - 42.0) < 1e-12)
  }

  test("Twap.segmented: any segment grain composes to the flat fold (q201 semantics)") {
    import graft.ops.Twap
    // irregular timestamps (quadratic-ish gaps) so time weighting and a
    // plain average disagree; two keys with offset values
    val n = 120
    def ts(i: Int): Long = i.toLong * 1000L + (i.toLong * i) % 777
    def v(i: Int): Double = ((i * 2654435761L) % 1000).toDouble / 10.0
    val rows = (0 until n).flatMap(i =>
      Seq(("u", ts(i), i.toLong, v(i)), ("w", ts(i), i.toLong, v(i) + 3.0)))
    val df = rows.toDF("k", "t", "e", "x")
    def flat(off: Double): Double = {
      val s = (1 until n).map(i => (v(i - 1) + off) * (ts(i) - ts(i - 1))).sum
      s / (ts(n - 1) - ts(0))
    }
    // grain 1 row/segment (all boundary terms), one global segment
    // (pure flat fold), mixed grains; all reproduce the sequential fold
    for (g <- Seq(1L, 900L, 7000L, 1000000L)) {
      val got = Twap.segmented(df, $"k", expr(s"t DIV $g"), $"t", Seq($"e"), $"x")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(got("u")._1 == n && got("u")._2 == ts(n - 1) - ts(0))
      assert(math.abs(got("u")._3 - flat(0.0)) < 1e-9, s"grain $g: ${got("u")}")
      assert(math.abs(got("w")._3 - flat(3.0)) < 1e-9, s"grain $g: ${got("w")}")
    }
    // single-reading key: no time to weight -> null twap, zero span
    val one = Seq(("s", 5L, 0L, 9.0)).toDF("k", "t", "e", "x")
    val g1 = Twap.segmented(one, $"k", expr("t DIV 2"), $"t", Seq($"e"), $"x")
      .collect().head
    assert(g1.getLong(1) == 1 && g1.getLong(2) == 0L && g1.isNullAt(3))
  }

  test("WeightedQuantile.quantileBinned: q212 exact weighted median lies inside the band") {
    import org.apache.spark.sql.expressions.Window
    import graft.ops.WeightedQuantile
    val li = Tables(spark, sf, "lineitem").select(
      col("l_returnflag").as("flag"), col("l_extendedprice").as("price"),
      col("l_quantity").cast("long").as("w"),
      col("l_orderkey"), col("l_linenumber"))
    // q212's exact rule: first value whose 2*cum crosses total weight
    val win = Window.partitionBy($"flag")
      .orderBy($"price", $"l_orderkey", $"l_linenumber")
    val exact = li.withColumn("cw", sum($"w").over(win))
      .join(li.groupBy($"flag").agg(sum($"w").as("tw")), "flag")
      .filter($"cw" * 2 >= $"tw" && ($"cw" - $"w") * 2 < $"tw")
      .select($"flag", $"tw", $"price")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val sketch = WeightedQuantile.quantileBinned(
        Tables(spark, sf, "lineitem"), col("l_returnflag"),
        col("l_extendedprice"), col("l_quantity"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(4), r.getDouble(5)))).toMap
    assert(exact.nonEmpty && exact.keySet == sketch.keySet)
    exact.foreach { case (flag, (tw, med)) =>
      val (stw, lo, hi) = sketch(flag)
      assert(stw == tw, s"$flag: total weight $stw != $tw")
      assert(lo <= med && med <= hi, s"$flag: median $med outside [$lo, $hi]")
      assert(hi - lo > 0, s"$flag: degenerate band")
    }
    // degenerate single-value group + p25/p75 monotonicity on a hand frame
    val tiny = Seq(("a", 5.0, 1L), ("a", 5.0, 3L),
      ("b", 1.0, 1L), ("b", 2.0, 1L), ("b", 100.0, 6L)).toDF("g", "v", "w")
    val dg = WeightedQuantile.quantileBinned(tiny, $"g", $"v", $"w")
      .collect().map(r => r.getString(0) ->
        ((r.getInt(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(dg("a")._1 == 0 && dg("a")._2 == 5.0)
    // b: total weight 8, crossing at cum 8 (value 100) -> top bin
    assert(dg("b")._2 <= 100.0 && 100.0 <= dg("b")._3)
    val p25 = WeightedQuantile.quantileBinned(tiny, $"g", $"v", $"w", pBp = 2500)
      .filter($"g" === "b").select($"bin").head().getInt(0)
    val p75 = WeightedQuantile.quantileBinned(tiny, $"g", $"v", $"w", pBp = 7500)
      .filter($"g" === "b").select($"bin").head().getInt(0)
    assert(p25 <= p75)
  }

  test("Drift.ksStatistic: hand-computed sup-norm, zero on identical samples") {
    // A = {1,2,3}, B = {1,3,3,4}: numerators |cumA*nB - cumB*nA| over
    // sorted distinct values = 1, 5, 3, 0 -> KS = 5/12
    val df = Seq(
      ("g", 1, false), ("g", 2, false), ("g", 3, false),
      ("g", 1, true), ("g", 3, true), ("g", 3, true), ("g", 4, true)
    ).toDF("grp", "x", "b")
    val r = graft.ops.Drift.ksStatistic(df, $"grp", $"x", $"b")
      .as[(String, Long, Long, Double)].collect()
    assert(r.toSeq == Seq(("g", 3L, 4L, 0.416667)))
    // identical samples: statistic is exactly 0
    val same = Seq(("g", 5, false), ("g", 7, false), ("g", 5, true), ("g", 7, true))
      .toDF("grp", "x", "b")
    val r0 = graft.ops.Drift.ksStatistic(same, $"grp", $"x", $"b")
      .as[(String, Long, Long, Double)].collect()
    assert(r0.toSeq == Seq(("g", 2L, 2L, 0.0)))
    // a group with an empty side is dropped, not nulled
    val onesided = Seq(("g", 1, false), ("h", 1, true)).toDF("grp", "x", "b")
    assert(graft.ops.Drift.ksStatistic(onesided, $"grp", $"x", $"b").count() == 0)
  }

  test("Drift.w1Statistic: hand-computed transport cost, shift sensitivity KS lacks") {
    import graft.ops.Drift
    // A = {0,2}, B = {1,3}: optimal transport moves each unit 1 step ->
    // W1 = 1.0 (numerators 2,0,2 over unit gaps, / nA*nB = 4)
    val df = Seq(("g", 0L, false), ("g", 2L, false), ("g", 1L, true), ("g", 3L, true))
      .toDF("grp", "x", "b")
    val r = Drift.w1Statistic(df, $"grp", $"x", $"b")
      .as[(String, Long, Long, Double)].collect()
    assert(r.toSeq == Seq(("g", 2L, 2L, 1.0)))
    // identical samples: exactly 0
    val same = Seq(("g", 5L, false), ("g", 7L, false), ("g", 5L, true), ("g", 7L, true))
      .toDF("grp", "x", "b")
    assert(Drift.w1Statistic(same, $"grp", $"x", $"b")
      .as[(String, Long, Long, Double)].collect().toSeq == Seq(("g", 2L, 2L, 0.0)))
    // the statistic W1 exists for: a uniform +10 shift of a wide sample
    // moves W1 by exactly 10 while KS stays at its minimal detectable
    // level (1/n) — the displacement magnitude KS structurally ignores
    val n = 100
    val wide = (0 until n).flatMap(i =>
      Seq(("s", i.toLong, false), ("s", i.toLong + 10L, true))).toDF("grp", "x", "b")
    val w1 = Drift.w1Statistic(wide, $"grp", $"x", $"b")
      .as[(String, Long, Long, Double)].head()._4
    val ks = Drift.ksStatistic(wide, $"grp", $"x", $"b")
      .as[(String, Long, Long, Double)].head()._4
    assert(w1 == 10.0, s"w1 = $w1")
    assert(ks == 0.1, s"ks = $ks") // 10/n — small despite the full shift
    // w1FromCounts over split counts == the one-pass statistic
    val a = Drift.valueCounts(wide.filter(!$"b"), $"grp", $"x")
    val b = Drift.valueCounts(wide.filter($"b"), $"grp", $"x")
    assert(Drift.w1FromCounts(a, b)
      .as[(String, Long, Long, Double)].head()._4 == 10.0)
  }

  test("Binning: exact ntile face balanced and ordered; approx face agrees within sketch slack") {
    import graft.ops.Binning
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val k = 4
    val exact = Binning.equiDepth(docs, $"lang", Seq($"n_chars", $"doc_id"), k)
    // balanced: within each lang, bucket sizes differ by at most 1
    val sizes = exact.groupBy($"lang", $"bucket").count()
      .groupBy($"lang").agg((max($"count") - min($"count")).as("spread"),
        countDistinct($"bucket").as("nb"))
      .collect()
    assert(sizes.nonEmpty && sizes.forall(r => r.getLong(1) <= 1 && r.getLong(2) == k))
    // ordered: a higher bucket never holds a smaller value than a lower
    // bucket's max (value order respected across the cut)
    val cuts = exact.groupBy($"lang", $"bucket")
      .agg(min($"n_chars").as("lo"), max($"n_chars").as("hi"))
      .orderBy($"lang", $"bucket")
      .collect().groupBy(_.getString(0))
    cuts.values.foreach { rs =>
      rs.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) <= b.getLong(2), s"$a vs $b")
        case _ => ()
      }
    }
    // approx face: same k buckets, populations within sketch slack of
    // the exact face (high accuracy on test data ~ tight boundaries),
    // and every duplicated value lands in exactly one bucket
    val approx = Binning.equiDepthApprox(docs, $"lang", $"n_chars", k)
    val exCnt = exact.groupBy($"bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val apCnt = approx.groupBy($"bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(apCnt.keySet.subsetOf((1 to k).toSet))
    val total = exCnt.values.sum.toDouble
    (1 to k).foreach { b =>
      assert(math.abs(exCnt.getOrElse(b, 0L) - apCnt.getOrElse(b, 0L)) / total < 0.05,
        s"bucket $b: exact ${exCnt.get(b)} vs approx ${apCnt.get(b)}")
    }
    val tieSplit = approx.groupBy($"lang", $"n_chars")
      .agg(countDistinct($"bucket").as("nb")).filter($"nb" > 1)
    assert(tieSplit.count() == 0)
    // k = 1 face: everything in bucket 1, no sketch built
    assert(Binning.equiDepthApprox(docs, $"lang", $"n_chars", 1)
      .select($"bucket").distinct().collect().map(_.getInt(0)).toSeq == Seq(1))
    // a NULL group key is a legitimate partition: both faces keep its
    // rows (the boundary join is null-safe, not a silent inner drop)
    val withNull = Seq((1L, Some("en"), 10L), (2L, None, 5L), (3L, None, 9L))
      .toDF("doc_id", "lang", "n_chars")
    assert(Binning.equiDepth(withNull, $"lang", Seq($"n_chars", $"doc_id"), 2)
      .count() == 3)
    assert(Binning.equiDepthApprox(withNull, $"lang", $"n_chars", 2)
      .count() == 3)
    // a NULL VALUE is unbinnable on the approx face: it surfaces as a
    // NULL bucket (row kept), never silently pollutes bucket 1
    val nullVal = Seq((1L, "en", Some(10L)), (2L, "en", None), (3L, "en", Some(20L)),
      (4L, "en", Some(30L)))
      .toDF("doc_id", "lang", "n_chars")
    val nvBuckets = Binning.equiDepthApprox(nullVal, $"lang", $"n_chars", 2)
      .select($"doc_id", $"bucket").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1))))
      .toMap
    assert(nvBuckets(2L).isEmpty, s"NULL value must get a NULL bucket: $nvBuckets")
    assert(nvBuckets.filter(_._1 != 2L).values.forall(_.nonEmpty))
    assert(Binning.equiDepthApprox(nullVal, $"lang", $"n_chars", 1)
      .filter($"doc_id" === 2L).select($"bucket").head().isNullAt(0))
  }

  test("RankEval.metrics: hand-computed NDCG/MRR, zero-hit floor, truth-only users drop") {
    import graft.ops.RankEval
    val recs = Seq(("a", 10L, 1), ("a", 20L, 2), ("a", 30L, 3), ("b", 10L, 1))
      .toDF("user", "item", "rank")
    val truth = Seq(("a", 20L), ("a", 99L), ("b", 50L), ("c", 1L))
      .toDF("user", "item")
    val m = RankEval.metrics(recs, truth, k = 3).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    // a: one hit at rank 2 of 2 relevant → dcg = 1/log2(3),
    // idcg = 1 + 1/log2(3), ndcg = 0.386853; mrr = 1/2
    assert(m("a") == ((2L, 1L, 0.333333, 0.5, 0.386853, 0.5)))
    // b: no hit → every metric floors at 0 (not null)
    assert(m("b") == ((1L, 0L, 0.0, 0.0, 0.0, 0.0)))
    // c has relevant items but no recommendations → not measurable here
    assert(!m.contains("c"))
  }

  test("Drift.entropyFromCounts: uniform is ln k with evenness 1, constant is 0 with null") {
    import graft.ops.Drift
    val counts = Seq(("u", "a", 2L), ("u", "b", 2L), ("k", "only", 7L))
      .toDF("g", "x", "c")
    val r = Drift.entropyFromCounts(counts).collect()
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getLong(2), row.getDouble(3),
          Option(row.get(4))))).toMap
    // uniform over 2 bins: H = ln 2 = 0.693147 (6dp), evenness exactly 1
    assert(r("u") == ((4L, 2L, 0.693147, Some(1.0))))
    // single bin: no diversity — zero entropy, evenness undefined
    assert(r("k") == ((7L, 1L, 0.0, None)))
  }

  test("Drift.chi2Statistic: hand-computed 2x2, zero on identical mixes, counts face agrees") {
    import graft.ops.Drift
    // A = {a:3, b:1}, B = {a:1, b:3}: classic 2x2 gives
    // chi2 = n(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) = 8*64/256 = 2.0, dof 1
    val df = (Seq.fill(3)(("g", "a", false)) ++ Seq(("g", "b", false)) ++
      Seq(("g", "a", true)) ++ Seq.fill(3)(("g", "b", true)))
      .toDF("grp", "x", "b")
    val r = Drift.chi2Statistic(df, $"grp", $"x", $"b")
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(r.toSeq == Seq(("g", 4L, 4L, 2L, 1L, 2.0)))
    // identical mixes: exactly 0 (every per-bin numerator is 0 in longs)
    val same = Seq(("g", "a", false), ("g", "b", false),
      ("g", "a", true), ("g", "b", true)).toDF("grp", "x", "b")
    assert(Drift.chi2Statistic(same, $"grp", $"x", $"b")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq ==
      Seq(("g", 2L, 2L, 2L, 1L, 0.0)))
    // a category one side never saw still counts as a bin (the
    // "new crawler appeared" case the full-outer alignment exists for)
    val novel = Seq(("g", "a", false), ("g", "a", true), ("g", "z", true))
      .toDF("grp", "x", "b")
    val rn = Drift.chi2Statistic(novel, $"grp", $"x", $"b")
      .as[(String, Long, Long, Long, Long, Double)].head()
    assert(rn._4 == 2L && rn._6 > 0.0)
    val ca = Drift.valueCounts(novel.filter(!$"b"), $"grp", $"x")
    val cb = Drift.valueCounts(novel.filter($"b"), $"grp", $"x")
    assert(Drift.chi2FromCounts(ca, cb)
      .as[(String, Long, Long, Long, Long, Double)].head() == rn)
  }
}
