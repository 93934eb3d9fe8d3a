package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The cluster-deploy registration path: a session built with
  * `spark.sql.extensions=graft.GraftExtensions` can use the codegen SQL
  * functions from plain SQL and plan the custom as-of join with NO
  * runtime register() calls — what a SQL gateway (no Scala user code)
  * relies on. */
class ExtensionsSpec extends SparkSpec {

  test("extensions-built session: SQL functions + as-of strategy, no register()") {
    val base = spark // materialize the shared suite session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // a NEW SparkSession over the same SparkContext. spark.sql.extensions
    // is a STATIC conf read at SparkContext creation, so the config-string
    // path can't take effect on a shared test context — exercise the same
    // class through Builder.withExtensions (identical injection surface;
    // the string->class loading is stock Spark plumbing). Never stop()
    // this session — the context is shared with every other suite.
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .withExtensions(ext => new GraftExtensions().apply(ext))
      .getOrCreate()
    try {
      assert(s2 ne base)
      // codegen functions reachable from plain SQL
      assert(s2.sql("SELECT array_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0) == 11.0)
      assert(s2.sql("SELECT p60('abc') AS h").head().getLong(0) == 648541476951500027L)
      assert(s2.sql("SELECT zorder2(3L, 5L, 8) AS z").head().getLong(0) ==
        graft.functions.ZOrder2.interleave(3L, 5L, 8))
      val text = "the quick brown fox jumps over the lazy dog"
      val fps = s2.sql(s"SELECT winnow60('$text', 5, 4) AS f").head().getSeq[Long](0)
      assert(fps.nonEmpty && fps == graft.functions.TextHashOps.winnow60(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), 5, 4).toLongArray().toSeq)
      // every function the runtime register() installs is injected too
      graft.functions.GraftFunctions.all.foreach { case (name, _) =>
        assert(s2.catalog.functionExists(name), name)
      }
      // the as-of plan goes through the INJECTED strategy: build the
      // logical node directly (AsOfJoin.asOf would self-register via
      // spark.experimental — exactly the path this config replaces) and
      // confirm experimental stayed untouched
      import s2.implicits._
      val l = Seq((1L, 10L)).toDF("k", "t")
      val r = Seq((1L, 5L, "old"), (1L, 8L, "new"), (1L, 12L, "future"))
        .toDF("rk", "rt", "v")
      val lp = l.queryExecution.analyzed
      val rp = r.queryExecution.analyzed
      def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
        p.output.find(_.name == n).get
      val plan = graft.plans.AsOfJoinPlan(lp, rp,
        Seq(attr(lp, "k")), Seq(attr(rp, "rk")), attr(lp, "t"), attr(rp, "rt"))
      val joined = org.apache.spark.sql.GraftSqlBridge.ofRows(s2, plan)
      assert(!s2.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy))
      val row = joined.select($"k", $"rt", $"v").head()
      assert(row.getLong(1) == 8L && row.getString(2) == "new")
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
