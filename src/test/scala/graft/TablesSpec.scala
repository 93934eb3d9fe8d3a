package graft

import graft.queries.Tables
import graft.streaming.EventStreams

/** Table loads take their schema from a driver-side parquet footer read:
  * the schema Spark's inference job would produce, without the job. */
class TablesSpec extends SparkSpec {
  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  test("every table loads with the schema Spark infers") {
    tables.foreach { t =>
      val loaded = Tables(spark, sf, t).schema // sets events' nanos flag first
      val inferred = spark.read.parquet(s"$sf/$t.parquet")
      val expected = if (t == "events") Tables.normalizeTs(inferred) else inferred
      assert(loaded == expected.schema, t)
    }
  }

  test("a table load runs no Spark job") {
    tables.foreach { t =>
      assert(RoundsSpec.jobsOf(spark) { Tables(spark, sf, t).schema; () } == 0, t)
    }
  }

  test("building the events stream runs no Spark job") {
    assert(RoundsSpec.jobsOf(spark) {
      EventStreams.readEventsStream(spark, sf).schema; ()
    } == 0)
  }

  test("footerSchema of a directory skips _ and . files") {
    val root = java.nio.file.Files.createTempDirectory("tables-footer").toFile
    try {
      val dir = new java.io.File(root, "t").getPath
      spark.range(10).selectExpr("id", "CAST(id AS STRING) AS s", "id % 2 = 0 AS even")
        .repartition(2).write.parquet(dir) // part files, _SUCCESS and .crc files
      assert(new java.io.File(dir).list().exists(_.startsWith("_")))
      // the relation makes every field nullable, as it does for an
      // inferred schema: compare what a read exposes
      assert(spark.read.schema(Tables.footerSchema(spark, dir)).parquet(dir).schema ==
        spark.read.parquet(dir).schema)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(root)
    }
  }
}
