package graft

import java.nio.file.Files

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.functions._
import graft.ops.Skew
import graft.queries.Tables
import graft.streaming.EventStreams

/** Scale-mechanics specs: bucketed co-located joins eliminate the
  * shuffle, salted aggregation matches direct aggregation, streaming
  * dedup drops repeats within the watermark horizon. */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without an exchange") {
    // default warehouse (./spark-warehouse, gitignored) — the conf is
    // static and can't move per-test; clean any leftover location first
    Seq("orders_b", "lineitem_b").foreach { tb =>
      spark.sql(s"DROP TABLE IF EXISTS $tb")
      val loc = new java.io.File(s"spark-warehouse/$tb")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    val o = Tables(spark, sf, "orders")
    val l = Tables(spark, sf, "lineitem")
    o.write.mode("overwrite").bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    // at test SF the planner would broadcast instead (bucketing is a
    // big-big join tool) — force the shuffle-join path to observe the
    // bucket layout doing its work
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"),
          col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      // co-located: bucket layout satisfies the join's distribution — no
      // shuffle on either side
      assert(!plan.contains("ShuffleExchange"), plan.linesIterator.take(25).mkString("\n"))
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"),
        plan.linesIterator.take(25).mkString("\n"))
      assert(joined.count() == l.count()) // every lineitem has its order
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE orders_b")
      spark.sql("DROP TABLE lineitem_b")
    }
  }

  test("hive-partitioned write prunes partitions at read time") {
    // the corpus layout story: a 100 TB corpus written partitionBy(lang)
    // (or source/date) lets every per-language query touch 1/k of the
    // files — but ONLY if the filter actually reaches the scan as a
    // partition filter, not a post-scan predicate. Pin that.
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toFile
    try {
      Tables(spark, sf, "documents")
        .write.mode("overwrite").partitionBy("lang")
        .parquet(dir.getAbsolutePath)
      val langs = new java.io.File(dir, ".").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("lang="))
      assert(langs.length > 1, "fixture needs multiple lang partitions")
      val one = spark.read.parquet(dir.getAbsolutePath)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("n_chars"))
      // Structural assertions on the scan node itself (not plan-string
      // substrings, which are Spark-version- and column-order-sensitive):
      // the lang predicate must land in the scan's partitionFilters
      // (directory pruning), must NOT survive as a data filter, and
      // pruning must compose with column pruning (requiredSchema).
      val scans = one.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.length == 1, one.queryExecution.executedPlan.toString.take(800))
      val scanNode = scans.head
      assert(scanNode.partitionFilters.exists(_.references.exists(_.name == "lang")),
        s"lang not in partitionFilters: ${scanNode.partitionFilters}")
      assert(!scanNode.dataFilters.exists(_.references.exists(_.name == "lang")),
        s"lang leaked into dataFilters: ${scanNode.dataFilters}")
      assert(scanNode.requiredSchema.fieldNames.toSet == Set("doc_id", "n_chars"),
        s"column pruning failed: ${scanNode.requiredSchema.catalogString}")
      val expected = Tables(spark, sf, "documents")
        .filter(col("lang") === "en").count()
      assert(one.count() == expected)
    } finally {
      import scala.reflect.io.Directory
      new Directory(dir).deleteRecursively()
    }
  }

  test("sampling and chunking plans are shuffle-free (scan-side work only)") {
    // the 100 TB claims these ops make are plan properties — pin them:
    // a hash-gated sample is a pure filter, chunking is pure map-side
    // array work; neither may introduce an exchange
    val events = Tables(spark, sf, "events")
    val samplePlan = graft.ops.Sampling
      .uniform(events, col("event_id"), 1000)
      .queryExecution.executedPlan.toString
    assert(!samplePlan.contains("Exchange"), samplePlan.take(500))
    val docs = Tables(spark, sf, "documents")
    val chunkPlan = graft.ops.TextPipeline.chunk(docs)
      .queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"), chunkPlan.take(500))
    // and the sample's gate evaluates against a pruned scan (only the
    // columns the query needs are read)
    val pruned = graft.ops.Sampling.uniform(
      events.select(col("event_id"), col("event_type")), col("event_id"), 1000)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema: struct<event_id:bigint,event_type:string>"),
      scan.take(800))
  }

  test("lshCandidates keepSigs: one self-join, same pairs, sigs on the pair") {
    // the q36 stability fix is a plan property — pin it: carrying the
    // signatures through the band join must not add joins (the broken
    // formulation joined the signature frame back twice, and AQE's
    // cached-stats guess flipped those between broadcast and full
    // exchange run-to-run)
    val docs = Tables(spark, sf, "documents")
    val sigs = graft.ops.Dedup.minhashSignatures(
      graft.ops.Dedup.shingles(docs), k = 16)
    val withSigs = graft.ops.Dedup.lshCandidates(sigs, bandRows = 4, keepSigs = true)
    val plan = withSigs.queryExecution.executedPlan.toString
    val joins = plan.linesIterator.count(_.contains("Join"))
    assert(joins == 1, s"expected exactly the band self-join, got $joins:\n${plan.take(800)}")
    assert(withSigs.columns.toSet == Set("d1", "d2", "sig1", "sig2"))
    // and the carried-sig variant yields exactly the plain variant's pairs
    val plain = graft.ops.Dedup.lshCandidates(sigs, bandRows = 4)
      .as[(Long, Long)].collect().toSet
    val carried = withSigs.select($"d1", $"d2").as[(Long, Long)].collect().toSet
    assert(carried == plain && plain.nonEmpty)
  }

  test("epochUpsample is shuffle-free; lengthBuckets pays exactly one exchange") {
    // the ops' scale claims as plan properties: the epoch repeat is a
    // map-side explode + filter off the scan (no exchange anywhere), and
    // the bucket telemetry is one partial-aggregating groupBy (exactly
    // one exchange, on the bounded bucket key)
    val docs = Tables(spark, sf, "documents")
    val upPlan = graft.ops.Sampling
      .epochUpsample(docs.select(col("doc_id")), col("doc_id"), 2, 5000)
      .queryExecution.executedPlan.toString
    assert(!upPlan.contains("Exchange"), upPlan.take(500))
    val lbPlan = graft.ops.TextPipeline.lengthBuckets(docs, widthTokens = 32)
      .queryExecution.executedPlan.toString
    assert(lbPlan.linesIterator.count(_.contains("Exchange")) == 1, lbPlan.take(800))
  }

  test("q97 ranks inside a distributed top-k, never the full vocab") {
    // the vocab-coverage ranking must be TakeOrderedAndProject (per-
    // partition heads, no global sort) with the single-task window
    // running strictly above it — i.e. over the 1000-row cut, never over
    // the unbounded distinct-term frame (billions of rows at web scale)
    val df = graft.SparkEntry.queries("q97_vocab_coverage")(spark, sf)
    // AdaptiveSparkPlanExec is a leaf wrapper (collect can't see through
    // it) — assert on the initial physical plan it wraps
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val topK = plan.collect {
      case tk: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => tk
    }
    assert(topK.nonEmpty, s"no TakeOrderedAndProject:\n${plan.toString.take(800)}")
    val windows = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the rank window to survive planning")
    windows.foreach { w =>
      val bounded = w.collectFirst {
        case tk: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => tk
        case gl: org.apache.spark.sql.execution.GlobalLimitExec => gl
      }
      assert(bounded.isDefined,
        s"window runs over an unbounded frame:\n${w.toString.take(800)}")
    }
  }

  test("q115 PSI reads the corpus exactly once (sufficient-statistic shape)") {
    val plan = graft.SparkEntry.queries("q115_source_drift")(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // the (source x bin) count frame is cached and feeds every view:
    // srcTot, perBin, the grid and the grand total must all derive from
    // it, not from re-scanning documents. InMemoryTableScan appears per
    // consumer; FileSourceScan must appear exactly once (inside the
    // cached subtree's first materialization).
    assert(scans.size <= 1, s"PSI re-scans the corpus: ${scans.size} file scans")
  }

  test("salted aggregation equals direct aggregation") {
    val ev = Tables(spark, sf, "events")
    val direct = ev.groupBy($"user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    // salt = deterministic per-row id: retried map tasks resalt
    // identically, so the two-stage partials are retry-safe (the
    // contract Skew's scaladoc states; rand() here would violate it)
    val salted = Skew.saltedCount(ev, $"user_id", salt = $"event_id")
      .as[(Long, Long)].collect().toMap
    assert(salted == direct)
    val directSum = ev.groupBy($"user_id").agg(sum($"value").as("s"))
      .as[(Long, Double)].collect().toMap
    val saltedSum = Skew.saltedSum(ev, $"user_id", $"value", salt = $"event_id")
      .as[(Long, Double)].collect().toMap
    assert(saltedSum.keySet == directSum.keySet)
    saltedSum.foreach { case (k, s) => assert(math.abs(s - directSum(k)) < 1e-6) }
    // plan shape: the FIRST aggregation stage must group on (key, salt)
    // — that composite partial key is the whole point (hot key spread
    // over saltBuckets partials before any exchange sees it)
    val plan = Skew.saltedCount(ev, $"user_id", salt = $"event_id")
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val aggs = plan.collect {
      case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
    }
    assert(aggs.exists(_.groupingExpressions.size == 2),
      s"no (key, salt) first-stage aggregate in:\n$plan")
  }

  test("q122 aggregator top-k plans ObjectHashAggregate, no Window (cosine path)") {
    val plan = SparkEntry.queries("q122_topk_agg_cosine")(spark, sf)
      .queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "q122 must not plan a Window — that's q40's formulation")
    val objAgg = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(objAgg.size >= 2, s"expected partial+final ObjectHashAggregate, got ${objAgg.size}")
  }

  test("label-propagation argmax is a hash aggregate, no Window (q138 path)") {
    // the per-round winner selection must be a map-side-combined
    // aggregateByKey into per-node label counts, not a sorted or grouped
    // shuffle whose per-node partition a celebrity hub's degree would
    // bound. Every shuffle LPA runs (the adjacency build and one vote per
    // round) is seen through the stages it submits
    val edges = Tables(spark, sf, "events")
      .filter($"user_id".isNotNull)
      .select($"user_id".as("u1"), ($"user_id" % 7).as("u2"))
    val shuffles = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(
          s: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        s.stageInfo.rddInfos.filter(_.name == "ShuffledRDD").foreach { r =>
          shuffles.put(r.id, r.scope.map(_.name).getOrElse("")): Unit
        }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val result = try {
      val r = graft.ops.Graph.labelPropagation(edges, iters = 2)
      ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val scopes = shuffles.asScala.values.toSeq
    assert(scopes.count(_ == "aggregateByKey") >= 3,
      s"expected the adjacency build and one vote per round as aggregateByKey, got $scopes")
    assert(scopes.forall(_ == "aggregateByKey"), s"LPA shuffled other than by aggregateByKey: $scopes")
    val plan = result.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val windows = plan.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.isEmpty, "LPA must not plan a Window — argmax must be a hash aggregate")
    val sortAgg = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(sortAgg.isEmpty, s"LPA argmax fell back to SortAggregate:\n${sortAgg.headOption}")
  }

  test("label propagation votes a 2,000-label hub in one job per round, ties to the smallest label (q138 path)") {
    // the per-round vote is one map-side-combined count per node, picked
    // inside the round's checkpoint job: a celebrity hub whose 2,000
    // neighbors each offer a distinct label is counted incrementally (no
    // window, no sort), and the 2,000-way tie goes to the smallest label
    val leaves = new scala.util.Random(17).shuffle((5000L until 7000L).toVector)
    val star = leaves.map(l => (1L, l)).toDF("u1", "u2")
    def lpa(iters: Int): Map[Long, Long] =
      graft.ops.Graph.labelPropagation(star, iters).as[(Long, Long)].collect().toMap
    val one = lpa(1)
    assert(one.size == 2001 && one(1L) == 5000L, s"hub label ${one.get(1L)}")
    assert(leaves.forall(one(_) == 1L))
    // round 2: all 2,000 leaves offer the hub's own id
    val two = lpa(2)
    assert(two(1L) == 1L && leaves.forall(two(_) == 5000L))
    val perRound = RoundsSpec.jobsPerRound(spark, 1)(i =>
      graft.ops.Graph.labelPropagation(star, i).collect(): Unit)
    assert(perRound == 1, s"jobs per label-propagation round: $perRound")
  }

  test("salted join is row-identical to the direct join, shuffles on (key, salt)") {
    val orders = Tables(spark, sf, "orders").withColumnRenamed("o_custkey", "custkey")
    val cust = Tables(spark, sf, "customer").withColumnRenamed("c_custkey", "custkey")
    val direct = orders.join(cust, "custkey")
      .select($"o_orderkey", $"c_mktsegment").as[(Long, String)].collect().sorted.toSeq
    val salted = Skew.saltedJoin(orders, cust, "custkey", factSalt = $"o_orderkey", saltBuckets = 8)
      .select($"o_orderkey", $"c_mktsegment").as[(Long, String)].collect().sorted.toSeq
    assert(salted == direct)
    // with broadcast off, the join must partition on BOTH key and salt —
    // that composite key is the whole point (hot key spread over 8 tasks).
    // AQE off for the assertion: its inputPlan predates EnsureRequirements,
    // so exchanges only appear in the non-adaptive executedPlan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plan = Skew.saltedJoin(orders, cust, "custkey", factSalt = $"o_orderkey", saltBuckets = 8)
        .queryExecution.executedPlan
      val hashParts = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning match {
            case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
              h.expressions.map(_.sql).mkString(",")
          }
      }
      assert(hashParts.nonEmpty && hashParts.forall(p =>
          p.contains("custkey") && p.contains("_salt")),
        s"join exchanges not salted: $hashParts")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    val out = java.nio.file.Files.createTempDirectory("dedup_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("dedup_ckpt").toString
    // duplicate fingerprint: user_id + event_type; ts column is part of
    // the dedup key per dropDuplicates-with-watermark requirements, so
    // dedupe exact repeats of (user, type, ts)
    val stream = EventStreams.readEventsStream(spark, sf)
      .select($"user_id", $"event_type", $"ts")
    val q = EventStreams.dedupStream(stream, Seq("user_id", "event_type"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .start()
    try {
      q.processAllAvailable()
      val n = spark.read.parquet(out).count()
      val exact = Tables(spark, sf, "events")
        .select($"user_id", $"event_type", $"ts").distinct().count()
      assert(n == exact)
    } finally q.stop()
  }

  test("k-means assignment is shuffle-free") {
    // the q160 scale claim is a plan property: after the k×d seed
    // collect, nearest-centroid assignment must be pure scan-side work —
    // no N×k crossJoin, no exchange (the argmin runs per row over
    // centroids shipped in the task closure). iters=1 also exercises one
    // update round; the RETURNED frame is the final assignment and must
    // plan exchange-free.
    val emb = Tables(spark, sf, "embeddings")
    val (asg, _) = graft.ops.KMeans.lloyd(emb, "vec_id", "embedding", k = 4, iters = 1)
    val plan = asg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("pivot/unpivot/rank-family plans: one exchange, Expand scan-side, one Window") {
    val ev = Tables(spark, sf, "events")
    // q167: explicit-values pivot plans as the two-level aggregate —
    // groupBy(ub, event_type) partial+final, then PivotFirst on ub.
    // Both exchanges carry aggregated cells (≤ |ub|·|types| rows), and
    // crucially there's no separate distinct-collect job to discover
    // the pivot values
    val pivotPlan = ev.groupBy((col("user_id") % 10).as("ub"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 2))
      .queryExecution.executedPlan.toString
    assert(pivotPlan.linesIterator.count(_.contains("Exchange")) == 2,
      pivotPlan.take(800))
    assert(pivotPlan.contains("pivotfirst"), pivotPlan.take(800))
    // q168: unpivot plans as Expand BEFORE the aggregation's exchange —
    // the fan-out happens scan-side, the shuffle carries partial aggs
    val li = Tables(spark, sf, "lineitem")
    val unpivotPlan = li.unpivot(
        Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_extendedprice")), "measure", "v")
      .groupBy(col("l_returnflag"), col("measure"))
      .agg(sum(col("v")))
      .queryExecution.executedPlan.toString
    assert(unpivotPlan.contains("Expand"), unpivotPlan.take(800))
    assert(unpivotPlan.linesIterator.count(_.contains("Exchange")) == 1,
      unpivotPlan.take(800))
    // q169: ntile + percent_rank + cume_dist share one window spec →
    // exactly one WindowExec (one shuffle + one sort, not three)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    val rankPlan = ev.select(col("event_type"), col("event_id"),
        ntile(4).over(w), percent_rank().over(w), cume_dist().over(w))
      .queryExecution.executedPlan.toString
    assert(rankPlan.linesIterator.count(_.contains("Window")) == 1,
      rankPlan.take(800))
  }

  test("q196 session features: all windows ride ONE hash exchange") {
    // the q196 scale claim as a plan property: the (user_id, sid)
    // windows' clustering requirement is satisfied by the first
    // window's hashpartitioning(user_id) — a coarser key — so the
    // whole four-window feature chain pays exactly one hash shuffle
    // plus per-partition sorts; the only other exchange is the final
    // deterministic output sort (rangepartitioning)
    val plan = SparkEntry.queries("q196_session_features")(spark, sf)
      .queryExecution.executedPlan.toString
    val hashEx = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, plan.take(1000))
    assert(plan.linesIterator.count(_.contains("Exchange rangepartitioning")) == 1,
      plan.take(1000))
    assert(plan.linesIterator.count(_.trim.startsWith("+- Window")) >= 3, plan.take(1000))
  }

  test("AQE coalesces an over-provisioned shuffle down to the data") {
    // shuffle.partitions is sized for the big stages (32 in prod, 4
    // here); a tiny aggregate's exchange must be COALESCED by AQE at
    // runtime, not run one near-empty reducer per configured partition
    // — that's the setting that lets one global number serve 100 TB
    // joins and 5-row aggs in the same app
    val df = Tables(spark, sf, "events").groupBy($"event_type").count()
    df.collect() // materialize so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead coalesced"), plan.take(1000))
  }

  test("correlated LATERAL top-k decorrelates to WindowGroupLimit (q173 path)") {
    // the per-group ORDER BY + LIMIT inner query must become a
    // group-limit + window + join — never a per-outer-row re-execution
    // of the inner query (the naive lateral strategy), and the group
    // limit must sit below the window so each partition prunes to k
    // rows before the sort
    Seq("nation", "customer")
      .foreach(n => Tables(spark, sf, n).createOrReplaceTempView(n))
    val plan = spark.sql("""SELECT n_name, c.c_custkey, c.c_acctbal
        FROM nation, LATERAL (
          SELECT c_custkey, c_acctbal FROM customer
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 2) c""")
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1200))
    assert(plan.contains("row_number"), plan.take(1200))
    assert(!plan.contains("LateralJoin"), plan.take(1200))
  }

  test("reconcile phase 2 broadcasts the divergent-bucket list") {
    // the q170 scale claim: the row-level diff join's per-side input is
    // gated by a BROADCAST semi/inner join on the ≤buckets-row bucket
    // list — never a shuffle of the full table keyed on bucket
    val l = Tables(spark, sf, "orders")
    val r = l.filter(col("o_orderkey") % 97 =!= 0)
    val plan = graft.ops.Reconcile.diffRows(l, r, Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(1200))
    // and the diff itself is right: exactly the dropped keys, left_only
    val got = graft.ops.Reconcile.diffRows(l, r, Seq("o_orderkey"))
      .as[(Long, String)].collect()
    assert(got.nonEmpty && got.forall(_._2 == "left_only"))
    assert(got.length == l.filter(col("o_orderkey") % 97 === 0).count())
    // cdcRows shares the scoping contract: both snapshots gated by the
    // broadcast bucket list before the row-level join (q189 path)
    val cdcPlan = graft.ops.Reconcile.cdcRows(l, r, Seq("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(cdcPlan.contains("BroadcastHashJoin"), cdcPlan.take(1200))
  }

  test("rebuildFlagged: fact rescan gated by a broadcast semi-join, merge-back broadcast") {
    // the q204 scale claim: the repair pass must never rescan unflagged
    // keys' history — the flagged-key list (tiny) broadcasts into a
    // LeftSemi gate on the fact scan, and the rebuilt bounds broadcast
    // back over the |keys|-sized state; no exchange keyed on the full
    // fact table anywhere in the repair
    import graft.ops.Incremental
    val ev = Tables(spark, sf, "events")
    val state = Incremental.mergeDelta(Seq(
      Incremental.partialDelta(ev, col("event_type"), col("value"), lit(1L)),
      Incremental.partialDelta(ev.filter(col("event_id") % 7 === 0),
        col("event_type"), col("value"), lit(-1L))))
    val plan = Incremental.rebuildFlagged(
        state, ev.filter(col("event_id") % 7 =!= 0),
        col("event_type"), col("value"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi, BuildRight") && plan.contains("BroadcastHashJoin"),
      plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
  }

  test("AQE skew join splits the hot key's partition at runtime (salt's engine-side face)") {
    // graft.ops.Skew.saltedJoin is the MANUAL skew instrument (q195's
    // advisor sizes it); the engine's own face is AQE's skew-join
    // split, which rewrites a skewed sort-merge partition into
    // sub-partitions from runtime shuffle stats. Pin that it actually
    // activates on a synthetic hot key, because the decision rule the
    // repo documents depends on it being real: reach for AQE when the
    // skew is visible in shuffle stats at runtime (plain shuffle join
    // over uncached inputs — zero code changes); reach for salt when
    // AQE can't see or can't split it (cached/reused exchanges, skew
    // inside aggregations rather than joins, or a build side worth
    // replicating outright). Thresholds are production-sized by
    // default; lower them to observe the rewrite on test-scale data —
    // the PLAN SHAPE is what's pinned (the bloom-filter test's
    // convention).
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    // without force, AQE declines the split when it would add shuffles
    // (e.g. under a downstream exchange reuse) — the pin wants the
    // split itself observable
    spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    try {
      // one pathological key carries ~200k rows; 50 healthy keys carry
      // 2 each — with 4 shuffle partitions the hot partition dwarfs the
      // median on every metric AQE checks
      val fact = spark.range(0, 200000)
        .select(lit(0L).as("k"), col("id").as("payload"))
        .unionAll(spark.range(0, 100)
          .select((col("id") % 50 + 1).as("k"), col("id").as("payload")))
      val dim = spark.range(0, 51)
        .select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
      val joined = fact.join(dim, "k")
      // materialize THIS dataframe so ITS adaptive plan finalizes
      // (count() would execute a different query's plan)
      assert(joined.collect().length == 200000 + 100)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE skew split did not activate:\n${plan.take(1500)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
      spark.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      spark.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
    }
  }

  test("weighted-quantile sketch: window runs over aggregated bins, bounds broadcast") {
    // the q231 scale claim as plan properties: (a) the per-group
    // [min, max] bounds frame must come back as a BROADCAST join (two
    // scalars per group, never a shuffle); (b) every Window in the
    // plan must sit ABOVE an Aggregate — the crossing window scans
    // <= bins rows per group, NEVER the raw row stream (q212's exact
    // face pays that row-level window; this face exists to not)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val q = graft.ops.WeightedQuantile.quantileBinned(
      Tables(spark, sf, "lineitem"), col("l_returnflag"),
      col("l_extendedprice"), col("l_quantity"))
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastHashJoin"), phys.take(900))
    val wins = q.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"window over raw rows:\n${w.toString.take(600)}")
    }
  }

  test("segmented TWAP: two aggregate levels, zero Window operators") {
    // the q230 scale claim: both composition levels are aggregate()
    // expression folds inside groupBy aggregates — a Window would mean
    // per-key row buffering crept back in
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val q = graft.ops.Twap.segmented(
      Tables(spark, sf, "events").filter(col("user_id").isNotNull),
      col("user_id"), date_trunc("day", col("ts")),
      unix_micros(col("ts")), Seq(col("event_id").as("e")), col("value"))
    assert(q.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }.isEmpty)
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("ObjectHashAggregate") || phys.contains("SortAggregate"),
      phys.take(600))
  }

  test("IvfState.assignOnly is a pure scan: no join, no exchange, no aggregate") {
    // since r18 the assign-only pass rides KMeans.assignScan — the
    // argmin happens INSIDE one projection with centroids in the task
    // closure, so the plan must contain no join (the old keyless-BNLJ
    // face materialized N×k rows), no exchange, and no aggregate of any
    // kind: a new-batch assignment costs exactly one scan.
    val emb = Tables(spark, sf, "embeddings")
    val cents = (0 until 8).map(i => Seq.fill(10)(i.toDouble))
    val st = graft.ops.IvfState.Loaded(cents.toIndexedSeq, 1.0, 1L)
    val asg = graft.ops.IvfState.assignOnly(emb, "vec_id", "embedding", st)
    val plan = asg.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(900))
    assert(!plan.contains("Exchange"), plan.take(900))
    assert(!plan.contains("Aggregate"), plan.take(900))
    assert(plan.contains("FileScan"), plan.take(900))
  }

  test("Q21 shape: semi/anti self-joins stay equi-keyed, never nested-loop") {
    // q243's scale claim: the suppkey INEQUALITY rides as a residual
    // condition inside orderkey-keyed joins. If Catalyst ever saw only
    // the non-equi predicate it would plan BroadcastNestedLoopJoin over
    // the |lineitem|² pair space — the q194 failure mode. Force the
    // shuffle path (no broadcast) to observe the big-big plan that must
    // hold at 100 TB: every join keyed, the semi and anti both
    // SortMergeJoin on l_orderkey.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.queries.RelationalQueries.all
        .find(_.name == "q243_waiting_suppliers").get
      val df = q.build(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1200))
      assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
        plan.take(1200))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("Q19 shape: disjunctive mixed-side predicate stays a residual on the equi join") {
    // q260's claim: the OR of (brand, size, quantity) conjunctions —
    // which mixes columns from both sides — must ride as a post-probe
    // residual on the l_partkey = p_partkey equi join. If Catalyst
    // failed to extract the equi conjunct from the disjunction it
    // would plan BroadcastNestedLoopJoin/CartesianProduct over
    // fact×part. Pinned under no-broadcast so the big-big form is the
    // one checked.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val q = graft.queries.RelationalQueries.all
        .find(_.name == "q260_disjunctive_promo").get
      val df = q.build(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan.take(1200))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("round width: CC and BFS rounds follow spark.sql.shuffle.partitions, same results") {
    // the round loops key their state by spark.sql.shuffle.partitions:
    // the returned state (the last checkpointed round) carries that many
    // partitions, and the exact-long component labels do not move
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L),
      (21L, 22L), (22L, 23L), (5L, 3L)).toDF("d1", "d2")
    def bfs() = ops.Graph.bfsDistances(
      Seq((1L, 2L), (2L, 3L)).toDF("u1", "u2"), Seq(1L).toDF("seed"), maxHops = 2)
    val default = ops.Dedup.connectedComponents(pairs)
    val d = default.as[(Long, Long)].collect().toSet
    val b = bfs().collect().toSet
    Seq(7, 5).foreach { n =>
      assert(default.rdd.getNumPartitions != n)
      under("spark.sql.shuffle.partitions" -> n.toString) {
        val cc = ops.Dedup.connectedComponents(pairs)
        assert(cc.rdd.getNumPartitions == n,
          s"expected $n partitions of round state, got ${cc.rdd.getNumPartitions}")
        assert(cc.as[(Long, Long)].collect().toSet == d)
        val hops = bfs()
        assert(hops.rdd.getNumPartitions == n)
        assert(hops.collect().toSet == b)
      }
    }
  }

  test("lshCandidates bandK must be whole bands (r20 ADVICE: partial trailing band)") {
    import spark.implicits._
    val sigs = Seq((1L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)))
      .toDF("id", "sig")
    // 6 is >= bandRows but not a multiple: the trailing band would slice
    // past the 6-position prefix and break candidate-set identity
    intercept[IllegalArgumentException] {
      ops.Dedup.lshCandidates(sigs, bandRows = 4, bandK = Some(6))
    }
    // whole-band prefix is accepted
    ops.Dedup.lshCandidates(sigs, bandRows = 4, bandK = Some(4))
  }

  test("runtime bloom filter reaches the probe side of a selective shuffle join") {
    // at 100 TB the big-big join tool next to bucketing is the runtime
    // bloom filter: a selective dimension-side predicate is turned into
    // a might_contain() probe-side filter evaluated AT THE SCAN, so the
    // fact table drops non-joining rows before the exchange. Defaults
    // gate on multi-GB scan sizes; lower the thresholds to observe the
    // rewrite on test-scale data — the PLAN SHAPE is what's pinned.
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = Tables(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val l = Tables(spark, sf, "lineitem")
      val joined = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("rev"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n${optimized.take(1200)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      spark.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    }
  }
}
