package graft

import org.apache.spark.ml.feature.{HashingTF, IDF, Normalizer, Tokenizer}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._
import graft.pipelines.UserSimilarity
import graft.queries.Tables

/** M1-M5 invariants (SURVEY §5.2.2) + W1 top-k tie semantics (T1). */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  test("M1 parity quirk: ', '-joined docs tokenize with trailing commas") {
    val docs = Seq((1L, "100, 200, 300")).toDF("user_id", "ids")
    val toks = new Tokenizer().setInputCol("ids").setOutputCol("toks")
      .transform(docs).select($"toks").as[Seq[String]].head()
    assert(toks == Seq("100,", "200,", "300")) // COMP5349_2.py:146,151 quirk
    val feats = UserSimilarity.featurize(docs, UserSimilarity.Params(parityTokens = true))
    assert(feats.count() == 1)
  }

  test("M4 IDF matches closed form ln((m+1)/(df+1))") {
    // term "a" in 3 of 3 docs, term "b" in 1 of 3
    val docs = Seq((1L, Seq("a", "b")), (2L, Seq("a")), (3L, Seq("a"))).toDF("user_id", "toks")
    val tf = new HashingTF().setInputCol("toks").setOutputCol("tf").setNumFeatures(64)
    val withTf = tf.transform(docs)
    val idfModel = new IDF().setInputCol("tf").setOutputCol("tfidf").fit(withTf)
    val m = 3.0
    val expectedA = math.log((m + 1) / (3 + 1)) // df=3
    val expectedB = math.log((m + 1) / (1 + 1)) // df=1
    val idx = (t: String) => tf.indexOf(t)
    assert(math.abs(idfModel.idf(idx("a")) - expectedA) < 1e-12)
    assert(math.abs(idfModel.idf(idx("b")) - expectedB) < 1e-12)
  }

  test("M5 Normalizer: all feature vectors have unit L2 norm") {
    val feats = UserSimilarity.featurize(
      UserSimilarity.userDocs(Tables(spark, sf, "events")))
    val norms = feats.select($"tfidf_norm").collect()
      .map(_.getAs[Vector](0)).map(v => math.sqrt(v.toArray.map(x => x * x).sum))
    assert(norms.nonEmpty && norms.forall(n => math.abs(n - 1.0) < 1e-9))
  }

  test("M2 CountVectorizer vocab is capped at vocabSize") {
    val feats = UserSimilarity.featurize(
      UserSimilarity.userDocs(Tables(spark, sf, "events")),
      UserSimilarity.Params(vocabSize = 10))
    val sizes = feats.select($"cv_norm").collect().map(_.getAs[Vector](0).size)
    assert(sizes.forall(_ == 10))
  }

  test("T1 tie semantics: top-k orders by (sim DESC, other_user DESC)") {
    // three users with identical docs => pairwise sims all tie at 1.0;
    // the reference's Python tuple sort breaks ties by id DESC
    // (kdan9405_Assignment2_Notebook:220-230 depends on this).
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "x y")).toDF("user_id", "ids")
    val feats = UserSimilarity.featurize(docs)
    val top = UserSimilarity.topKSimilar(feats, col("user_id") === 1L, "tfidf_norm", k = 2)
      .orderBy($"rn").select($"other_user").as[Long].collect()
    assert(top.toSeq == Seq(3L, 2L)) // id DESC among equal sims
  }

  test("Word2Vec features: unit norm, fixed dim, seeded-reproducible") {
    val docs = UserSimilarity.userDocs(Tables(spark, sf, "events"))
    val f1 = UserSimilarity.word2vecFeatures(docs, vectorSize = 16)
    val rows = f1.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getAs[Vector](1)
      assert(v.size == 16)
      assert(math.abs(math.sqrt(v.toArray.map(x => x * x).sum) - 1.0) < 1e-6)
    }
    val f2 = UserSimilarity.word2vecFeatures(docs, vectorSize = 16).collect()
    assert(rows.map(_.toString).sorted.toSeq == f2.map(_.toString).sorted.toSeq)
  }

  test("W1 ml-pipeline cosine agrees with relational TF-IDF cosine") {
    // with numFeatures large enough to be collision-free, HashingTF+IDF
    // cosine must equal the sparse relational computation.
    val events = Tables(spark, sf, "events")
    val feats = UserSimilarity.featurize(
      UserSimilarity.userDocs(events), UserSimilarity.Params(numFeatures = 1 << 14))
    val ml = UserSimilarity.topKSimilar(feats, col("user_id") < 30, "tfidf_norm")
      .select($"query_user", $"other_user", $"sim_r")
      .as[(Long, Long, Double)].collect().map { case (q, o, s) => ((q, o), s) }.toMap
    val rel = UserSimilarity.relationalTopK(events, queryMax = 30)
      .select($"qu", $"ou", $"sim").as[(Long, Long, Double)].collect()
    assert(rel.nonEmpty)
    val overlap = rel.filter { case (q, o, _) => ml.contains((q, o)) }
    assert(overlap.nonEmpty)
    overlap.foreach { case (q, o, s) =>
      assert(math.abs(ml((q, o)) - s) < 1e-4, s"($q,$o): ml=${ml((q, o))} rel=$s")
    }
  }

  test("W1 CountVectorizer cosine agrees with relational count cosine (q79)") {
    // the test corpora hold 100 distinct items < vocabSize=200, so the
    // vocab cap binds in neither path and the two cosines are the same
    // math: CountVectorizer counts == relational (user, item) counts.
    val mlRows = SparkEntry.queries("q50_w1_cv_topk")(spark, sf)
      .select($"query_user", $"other_user", $"rn", $"sim_r")
      .as[(Long, Long, Int, Double)].collect()
    val relRows = SparkEntry.queries("q79_w1_cv_relational")(spark, sf)
      .select($"query_user", $"other_user", $"rn", $"sim")
      .as[(Long, Long, Int, Double)].collect()
    assert(relRows.nonEmpty)
    // top-5 membership per query user, not exact rn: q79 must rank on
    // the 6dp-rounded cosine (oracle portability) while topKSimilar
    // ranks on the raw dot, so a sub-1e-6 near-tie could legally swap
    // adjacent ranks between the paths without either being wrong
    assert(mlRows.map(r => (r._1, r._2)).toSet == relRows.map(r => (r._1, r._2)).toSet)
    val ml = mlRows.map { case (q, o, _, s) => ((q, o), s) }.toMap
    relRows.foreach { case (q, o, _, s) =>
      assert(math.abs(ml((q, o)) - s) < 1e-4, s"($q,$o): ml=${ml((q, o))} rel=$s")
    }
  }
}
