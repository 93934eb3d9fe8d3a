package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.{Sessions, SparkEntry}
import graft.queries.Tables

/** Benchmark harness: runs one workload's queries from outside the
  * library, through the query registry (`SparkEntry.queries`).
  *
  * One process, one local[4] session, one client: each query is built,
  * its result is written to the `noop` sink, then `Sessions.sweep` drops
  * whatever it cached, so no result survives into the next query. The
  * harness only records raw timings; `graftbench/run.py` turns them into
  * metrics.
  *
  * Phases, in order:
  *  1. set-up: start a session and load every table the workload reads
  *     (`Tables(spark, dataDir, t)` + its schema). `run.py` times set-up as
  *     one interval, from spawning this JVM to the end of the check pass;
  *  2. check pass: every query, and the companion of any query without an
  *     oracle, runs once and writes its result as parquet for the DuckDB
  *     oracle check; this is also every timed plan's cold run;
  *  3. `--passes` timed passes over the workload, each in an order drawn
  *     from `--seed`. With `--trace 1` the first pass runs untraced and the
  *     ones after it alternate untraced, traced, traced, untraced, with the
  *     tracer's listeners attached only to the traced ones, so the tracing
  *     overhead is measured in-process with a linear drift cancelled;
  *  4. the memory the program still holds: live heap after collections,
  *     plus non-heap (metaspace, code cache).
  *
  * Usage: Harness --data DIR --out DIR --seed N --passes K --trace 0|1
  *          --tables t1,t2 --queries q1,q2
  */
object Harness {
  private val cpus = 4

  def main(args: Array[String]): Unit = {
    val mainStartMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def list(k: String) = opt.get(k).toSeq.flatMap(_.split(',')).filter(_.nonEmpty)
    val dataDir = opt("data")
    val outDir = Paths.get(opt("out"))
    val seed = opt("seed").toLong
    val passes = opt("passes").toInt
    val trace = opt("trace") == "1"
    val tables = list("tables")
    val queries = list("queries")
    val registry = SparkEntry.queries
    queries.filterNot(registry.contains).foreach { q =>
      throw new IllegalArgumentException(s"unknown query $q")
    }
    Files.createDirectories(outDir)

    // 1. set-up
    val spark = session(outDir)
    val tracer = if (trace) new Tracer() else null
    if (trace) tracer.attach(spark)
    tables.foreach { t =>
      val span = if (trace) tracer.open(s"setup:$t", "tables.load") else null
      Tables(spark, dataDir, t).schema
      if (trace) tracer.close(span)
    }
    if (trace) tracer.detach(spark)
    val setupEndMs = System.currentTimeMillis()

    // 2. check pass: results to parquet for the oracle compare, plus the
    // oracle-checked companion of any query without an oracle
    val companions = SparkEntry.registry.flatMap(q => q.companion.map(q.name -> _)).toMap
    val checkDir = outDir.resolve("check")
    val checked = (queries ++ queries.flatMap(companions.get)).distinct.map { name =>
      val t0 = System.nanoTime()
      val err = attempt {
        registry(name)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(name).toString)
      }
      Sessions.sweep(spark)
      (name, (System.nanoTime() - t0) / 1e9, err)
    }
    val checkEndMs = System.currentTimeMillis()
    val oracle = SparkEntry.oracleSql

    // 3. timed passes
    val rng = new java.util.Random(seed)
    val samples = scala.collection.mutable.ArrayBuffer.empty[String]
    val passSec = (0 until passes).map { p =>
      val traced = trace && p > 0 && ((p - 1) % 4 == 1 || (p - 1) % 4 == 2)
      val order = shuffle(queries, rng)
      if (traced) tracer.attach(spark)
      val p0 = System.nanoTime()
      order.foreach { name =>
        val qid = s"$p:$name"
        val qSpan = if (traced) tracer.open(qid, "query") else null
        def phase[A](kind: String)(body: => A): A =
          if (!traced) body
          else {
            val s = tracer.open(qid, kind)
            try body finally tracer.close(s)
          }
        val t0 = System.nanoTime()
        var tBuilt = t0
        var analysisMs = -1L
        val err = attempt {
          val df = phase("build")(registry(name)(spark, dataDir))
          tBuilt = System.nanoTime()
          // the result's own analysis ran eagerly inside the builder; the
          // write command's plan (seen by the listener) only wraps it
          analysisMs = df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(-1L)
          phase("action")(df.write.format("noop").mode("overwrite").save())
        }
        val tDone = System.nanoTime()
        phase("sweep")(Sessions.sweep(spark))
        val tSwept = System.nanoTime()
        if (traced) tracer.close(qSpan)
        samples += obj(
          "pass" -> p.toString, "query" -> str(name), "traced" -> traced.toString,
          "build_s" -> num((tBuilt - t0) / 1e9), "action_s" -> num((tDone - tBuilt) / 1e9),
          "sweep_s" -> num((tSwept - tDone) / 1e9), "total_s" -> num((tSwept - t0) / 1e9),
          "analysis_ms" -> analysisMs.toString,
          "error" -> err.map(str).getOrElse("null"))
      }
      val wall = (System.nanoTime() - p0) / 1e9
      if (traced) tracer.detach(spark)
      wall
    }

    val hwmKb = vmHwmKb()
    // 4. what the program still holds after the workload. Spark frees
    // broadcast and shuffle blocks from its cleaner thread once a collection
    // has found their handles dead, so collect, let the cleaner run, and
    // collect again until a round frees less than 1 MB
    val mem = ManagementFactory.getMemoryMXBean
    var heapUsed = Long.MaxValue
    var shrinking = true
    var rounds = 0
    while (shrinking && rounds < 5) {
      if (rounds > 0) Thread.sleep(300)
      System.gc()
      val now = mem.getHeapMemoryUsage.getUsed
      shrinking = now < heapUsed - (1L << 20)
      heapUsed = math.min(heapUsed, now)
      rounds += 1
    }
    val retained = heapUsed + mem.getNonHeapMemoryUsage.getUsed
    spark.stop()
    val result = obj(
      "main_start_ms" -> mainStartMs.toString,
      "setup_end_ms" -> setupEndMs.toString,
      "check_end_ms" -> checkEndMs.toString,
      "check" -> arr(checked.map { case (n, s, e) =>
        obj("query" -> str(n), "seconds" -> num(s), "error" -> e.map(str).getOrElse("null"),
          "oracle" -> oracle.get(n).map(str).getOrElse("null"),
          "companion" -> companions.get(n).map(str).getOrElse("null"))
      }),
      "pass_s" -> arr(passSec.map(num)),
      "samples" -> arr(samples.toSeq),
      "vm_hwm_kb" -> hwmKb.toString,
      "retained_bytes" -> retained.toString,
      "trace" -> (if (trace) tracer.json else "null"))
    Files.write(outDir.resolve("result.json"), result.getBytes(StandardCharsets.UTF_8))
  }

  private def session(outDir: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", outDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fisher-Yates with the run's generator: one fresh order per pass. */
  private def shuffle(xs: Seq[String], rng: java.util.Random): Seq[String] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def attempt(body: => Unit): Option[String] =
    try { body; None }
    catch { case e: Throwable => Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(300)) }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }

  // minimal JSON writers; values passed to obj/arr are already encoded
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
