package graft

import graft.pipelines.MentionRecommender
import graft.queries.Tables

/** M6/M7 invariants: seeded reproducibility, rec-list bounds
  * (SURVEY §5.2.2, §5.3 — invariants, not exact floats). */
class ALSSpec extends SparkSpec {
  import spark.implicits._

  test("W2 interactions: counts are positive, keys non-null") {
    val inter = MentionRecommender.interactions(Tables(spark, sf, "events"))
    assert(inter.count() > 0)
    assert(inter.filter($"y" <= 0 || $"user_id".isNull || $"item".isNull).count() == 0)
  }

  test("F3 murmur ids match Spark's hash() bit-for-bit semantics") {
    // hash() == Catalyst Murmur3Hash seed 42, the same expression the
    // reference calls (COMP5349_2.py:197) — parity is by construction;
    // pin one known value so a future Spark change would surface here.
    val h = Seq(Tuple1(202170318L)).toDF("user_id")
      .selectExpr("hash(user_id)").as[Int].head()
    val viaPipeline = MentionRecommender.murmurIds(
      Seq((202170318L, 7)).toDF("user_id", "item"))
      .select($"hash_user_id").as[Int].head()
    assert(h == viaPipeline)
  }

  test("M6/M7: ALS seed=0 is reproducible and rec lists are <= 5") {
    val events = Tables(spark, sf, "events")
    val r1 = MentionRecommender.recommend(events, k = 5)
      .as[(Long, Long, Int, Double)].collect().toSeq
    val r2 = MentionRecommender.recommend(events, k = 5)
      .as[(Long, Long, Int, Double)].collect().toSeq
    assert(r1 == r2) // same seed, same partitioning => identical output
    val perUser = r1.groupBy(_._1).view.mapValues(_.size)
    assert(perUser.values.forall(_ <= 5))
    assert(r1.map(_._2).forall(rn => rn >= 1 && rn <= 5))
  }

  test("M7 item side: recommendForItemSubset mirrors the user side's contract") {
    // same fitted model, item direction: per-item user lists are
    // k-bounded and rank-ordered (non-increasing 4dp ratings), every
    // recommended user is an observed interacting user, and the run is
    // seed-reproducible like the user side.
    val events = Tables(spark, sf, "events")
    val r1 = MentionRecommender.recommendItems(events, k = 5)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val r2 = MentionRecommender.recommendItems(events, k = 5)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(r1 == r2)
    assert(r1.nonEmpty)
    val obsUsers = MentionRecommender.interactions(events)
      .select($"user_id").as[Long].collect().toSet
    assert(r1.map(_._3).forall(obsUsers.contains))
    r1.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.size <= 5)
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2) == (1 to rows.size))
      val ratings = byRank.map(_._4)
      assert(ratings.zip(ratings.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q76/q276 plans: no cached relation, no range sort") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    Seq("q76_als_invariants", "q276_als_item_invariants").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sf)
      val cached = df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      assert(cached.isEmpty, n)
      assert(!df.queryExecution.executedPlan.toString.toLowerCase.contains("rangepartitioning"), n)
      assert(df.collect().length == 1, n)
      Sessions.sweep(spark)
    }
  }
}
