package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One named, driver-checkable query.
  *
  * `build` produces the Spark result over the parquet tables in `sfDir`;
  * `oracle` is the equivalent ANSI SQL the driver runs in DuckDB over the
  * same tables (None => driver records a weaker rows-only check).
  *
  * Contract notes (SURVEY.md §5.2):
  *  - column names must match between the two sides (the driver sorts
  *    columns by name before hashing);
  *  - output must be value-deterministic: every aggregate over doubles is
  *    rounded, every collect_list sorted, every result totally ordered;
  *  - a query WITHOUT an oracle (float model output, zlib bytes, sketch
  *    internals — not SQL-expressible) MUST name a `companion`: a
  *    registered, ORACLE-CHECKED query exercising a SQL-expressible
  *    invariant of the same operator (q50→q51's relational twin, q53→
  *    q76's ALS invariants, …). RegistrySpec enforces the mapping, so
  *    "no oracle" can never quietly mean "no check".
  */
final case class GraftQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    companion: Option[String] = None)

object Tables {
  import org.apache.spark.sql.functions._

  /** Load one driver-provided table (TESTDATA.md). Runs no Spark job:
    * the schema comes from [[footerSchema]], a driver-side footer read,
    * instead of Spark's schema-inference job.
    *
    * `events.ts` has changed physical type across driver data
    * generations — TIMESTAMP(NANOS) in early rounds (which Spark 4
    * rejects outright, [PARQUET_TYPE_ILLEGAL], so it must be read as
    * raw nanos via the legacy flag and truncated to micros with exact
    * integer division: ns values ~1.7e18 exceed double's 2^53 exact
    * range, no float math), plain TIMESTAMP(MICROS) without UTC
    * adjustment (Spark: TIMESTAMP_NTZ) since round 14. The footer read
    * converts under the same session conf as inference, so the legacy
    * flag still yields LongType for the first and TimestampNTZType for
    * the second; [[normalizeTs]] then normalizes either encoding to
    * session-UTC TimestampType, so every downstream query sees one ts
    * type regardless of which generation wrote the file. DuckDB reads
    * the same column natively; with a UTC session the wall-clock values
    * agree between the two engines in both generations.
    */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val path = s"$sfDir/$name.parquet"
    if (name == "events") spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") normalizeTs(df) else df
  }

  /** The schema Spark's inference job would produce for
    * `spark.read.parquet(path)`, read on the driver from one parquet
    * footer (row-group metadata skipped) and converted by Spark's own
    * footer converter under the session's current conf: the same file
    * and the same conversion as the job, without the job. For a
    * directory that is the first data file in path order, skipping
    * names that start with `_` or `.` (summary files are not
    * consulted). Nothing is memoized: each call reads its footer. */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val file = if (status.isFile) status else {
      val files = fs.listFiles(root, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .minByOption(_.getPath.toString)
        .getOrElse(throw new java.io.FileNotFoundException(s"no parquet data file under $path"))
    }
    val footer = ParquetFileReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Normalize the `ts` column to TimestampType across the data
    * generations documented on [[apply]]. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // TIMESTAMP(NANOS) read as raw nanos
        df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case Some(TimestampNTZType) => // TIMESTAMP(MICROS), no UTC flag
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** The parsed `events.props` payload: `{"k": <int>}`. One `from_json`
    * with an explicit schema (Jackson streaming, no JsonPath engine)
    * instead of per-key `get_json_object` — callers reuse the single
    * parsed struct however many fields they pull. */
  val propsItem: org.apache.spark.sql.Column =
    from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k")
}

/** Scratch dirs for the queries whose point under test is a WRITE→READ
  * round trip (q117 CSV, q119 mergeSchema, q125 z-order): keyed on the
  * sanitized, truncated dataset path PLUS the hex SHA-256 of the raw
  * absolute path — sanitization alone collapses distinct paths that
  * differ only in squashed characters (`/data/sf0.1` vs `/data_sf0.1`)
  * onto one name, quietly reintroducing the concurrent-run
  * overwrite-vs-read race this class exists to eliminate, and unbounded
  * path length can exceed filename limits; the digest disambiguates
  * collision-free while the truncated prefix keeps the dir name
  * human-readable. Repeated runs over the same dataset reuse one dir
  * instead of accreting, and a JVM shutdown hook removes whatever this
  * run touched (bench can run twice back to back, no orphans). */
object Scratch {
  private val roots = java.util.Collections.newSetFromMap(
    new java.util.concurrent.ConcurrentHashMap[java.io.File, java.lang.Boolean]())
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      roots.forEach(deleteRecursively(_))))
    true
  }
  private def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
  def dir(prefix: String, datasetDir: String): String = {
    require(hookInstalled)
    val abs = new java.io.File(datasetDir).getAbsolutePath
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(abs.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val safe = abs.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(40)
    val f = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"${prefix}_${safe}_$digest")
    roots.add(f)
    f.getAbsolutePath
  }
}
