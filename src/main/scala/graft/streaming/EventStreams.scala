package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming operators over the `events` stream (SURVEY §7.4
  * "streaming" — greenfield; the reference has no streaming surface,
  * SURVEY §2.11). Each transform takes a streaming OR batch DataFrame
  * (same code path — that's the point of Structured Streaming), so the
  * batch queries in the driver gate and the streaming specs share
  * semantics.
  *
  * Scale design: tumbling/session windows keyed by (window, type) /
  * (user, session) shard naturally across executors; watermarks bound
  * state so a 100 TB/day stream doesn't accumulate unbounded aggregation
  * state.
  */
object EventStreams {

  /** File-source stream over the driver's events parquet. The file
    * source wants a directory, and `events.parquet` is a single file —
    * stream the sf directory with a glob filter. The file source also
    * wants a schema upfront; the physical ts type has changed across
    * driver data generations (nanos-as-long vs TIMESTAMP_NTZ — see
    * graft.queries.Tables), so read it from the actual file's footer
    * with the batch loader's [[graft.queries.Tables.footerSchema]] (one
    * driver-side metadata read, no data scan, no Spark job) and
    * normalize ts the same way the batch loader does. */
  def readEventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = graft.queries.Tables.footerSchema(spark, s"$sfDir/events.parquet")
    graft.queries.Tables.normalizeTs(
      spark.readStream
        .schema(raw)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir))
  }

  /** Watermark only applies to streaming inputs; on a batch frame the
    * same transform runs watermark-free (unified batch/stream path). */
  private def withWm(events: DataFrame): DataFrame =
    if (events.isStreaming) events.withWatermark("ts", "2 hours") else events

  /** Tumbling 1-hour windowed counts/sums per event type, 2h watermark. */
  def hourlyByType(events: DataFrame): DataFrame =
    withWm(events)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** Sliding (hopping) 1-hour windows every 15 minutes per event type —
    * the smoothing twin of [[hourlyByType]]'s tumbling hour (a spike at
    * :59 splits across adjacent tumbling windows; the hop sees it whole
    * in four overlapping ones). Each event lands in exactly
    * windowLen/hop windows; Spark expands that membership scan-side
    * (its generated window filter), so the aggregate is one map-side
    * combined groupBy on a 4×-inflated but still bounded key space —
    * no self-join, no state beyond the watermark horizon when
    * streaming. */
  def slidingByType(events: DataFrame): DataFrame =
    withWm(events)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Session windows per user: a session closes after 30 min of
    * inactivity. State is bounded by the watermark. */
  def sessionize(events: DataFrame): DataFrame =
    withWm(events)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("session_value"))

  /** Stream-stream interval join: attribute each purchase to the clicks
    * by the same user within the preceding hour. Both sides carry
    * watermarks and the join has a two-sided time bound, so the state
    * store retains only one watermark-horizon of each side — the
    * unbounded-state trap of naive stream joins is structurally
    * excluded. Works identically on batch frames. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = withWm(events).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val purchases = withWm(events).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Left-OUTER face of [[purchaseAttribution]]: every purchase emits,
    * attributed ones immediately, UNATTRIBUTED ones (no click in the
    * preceding hour) with null click_ts once the watermark passes their
    * join window — the conversion-vs-organic split a funnel dashboard
    * needs, which the inner join silently drops. Outer stream-stream
    * joins REQUIRE both the watermarks and the two-sided time bound:
    * that's what lets the engine prove a purchase can no longer match
    * and emit its null row while evicting its state. Batch face: the
    * same left join, no watermark machinery.
    *
    * Latency caveat (observed, then pinned in the spec): the event-type
    * filters push BELOW each side's EventTimeWatermark node, so each
    * side's watermark advances only on its OWN event type, and the
    * global watermark is their MIN — if purchases go idle, null
    * emission stalls until the next purchase arrives. That is standard
    * per-stream watermark semantics (an idle stream is
    * indistinguishable from a delayed one), not state leakage: state
    * stays bounded by the horizon of whichever side still flows. */
  def purchaseAttributionOuter(events: DataFrame): DataFrame = {
    val clicks = withWm(events).filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val purchases = withWm(events).filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Streaming exact dedup (the LLM-pipeline dedup op in stream form):
    * drop events already seen within the watermark horizon, keyed by a
    * dedup fingerprint. Watermark bounds the dedup state — without it a
    * 100 TB/day stream would accumulate unbounded seen-keys. */
  def dedupStream(events: DataFrame, keyCols: Seq[String]): DataFrame =
    withWm(events).dropDuplicates(keyCols :+ "ts")

  /** At-least-once → exactly-once ingest dedup: drop REDELIVERIES of a
    * key arriving within the watermark horizon, first delivery wins and
    * emits immediately (append, no watermark wait). Unlike
    * [[dedupStream]] — whose key must include the event-time column for
    * state eviction — dropDuplicatesWithinWatermark keeps state per
    * BARE key and evicts it once the watermark passes the first
    * sighting, so a redelivered message with a perturbed payload or
    * timestamp (the real retry shape) still dedups, and state stays
    * watermark-bounded on a 100 TB/day feed. Contract: redeliveries
    * arrive within the horizon (the delivery-system guarantee this op
    * is sized against); a later-than-horizon replay re-emits. The batch
    * face is plain dropDuplicates — exact copies collapse, so the two
    * faces agree on any feed whose redeliveries are in-horizon copies
    * (pinned in StreamingSpec; q171 oracles the batch face). */
  def dedupExactlyOnce(events: DataFrame, keyCols: Seq[String]): DataFrame =
    if (events.isStreaming)
      withWm(events).dropDuplicatesWithinWatermark(keyCols)
    else events.dropDuplicates(keyCols)

  /** Stream-static incremental dedup: drop every streamed row whose key
    * already exists in the STATIC corpus frame — the ingest-time
    * complement of [[dedupStream]] (which dedups the stream against
    * itself). A stream-static left-anti join keeps no streaming state at
    * all: each micro-batch probes the corpus as a plain join (broadcast
    * or shuffled, Catalyst's call per batch), so cost scales with the
    * corpus join, not with stream history — the same orientation as the
    * batch incremental dedup (q90), in stream form. */
  def dedupAgainstStatic(stream: DataFrame, corpusKeys: DataFrame,
      keyCol: String): DataFrame =
    stream.join(corpusKeys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")

  /** foreachBatch body for incremental NEAR-dup-deduped ingestion — the
    * streaming twin of the batch incremental dedup (q90): each
    * micro-batch (the daily crawl) is MinHash-signed, its bands probed
    * against the accumulated corpus signature store with
    * [[graft.ops.Dedup.corpusCollisions]] (corpus side streams, exactly
    * as in batch), survivors appended to `sinkDir` and their signatures
    * appended to the store — so tomorrow's crawl dedups against
    * everything kept today. State lives in the two parquet directories,
    * never executor memory: the stream restarts from its checkpoint
    * with the corpus intact, and the corpus side scales past RAM.
    * Within-batch self-dups are deliberately NOT dropped (q90's
    * semantics is batch vs corpus); compose [[dedupStream]] upstream
    * for those.
    *
    * Exactly-once discipline (foreachBatch is at-least-once — a crash
    * between the batch body and the offset commit REPLAYS the batch
    * with the same batchId): both the sink output and the signature
    * append land in per-batch subdirectories (`batch_<id>/`) written
    * with OVERWRITE, so a replay rewrites the same directories instead
    * of appending duplicates — and the probe reads only COMMITTED
    * (`_SUCCESS`-marked) signature dirs of EARLIER batches, excluding
    * `batch_<batchId>` itself. That exclusion is load-bearing: a
    * replayed batch whose first attempt already wrote its signatures
    * would otherwise collide with ITSELF, drop every document as a
    * near-dup, and overwrite both dirs with empty survivor sets —
    * silent data loss on the exact crash the checkpoint exists to
    * survive. Read the sink with `recursiveFileLookup`
    * ([[ingestedDocs]]). The per-batch layout also means the append
    * job never writes into files its own probe scan is reading.
    *
    * Usage: `docs.writeStream.foreachBatch(ingestDedupBatch(sigDir,
    * outDir) _).start()`. `broadcastBatch` as in corpusCollisions:
    * leave true for crawl-sized batches, false for backfills. */
  def ingestDedupBatch(corpusSigDir: String, sinkDir: String,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 16,
      bandRows: Int = 4, broadcastBatch: Boolean = true)
      (batch: DataFrame, batchId: Long): Unit = {
    import graft.ops.Dedup
    val spark = batch.sparkSession
    val sigs = Dedup.minhashSignatures(
      Dedup.shingles(batch, idCol = idCol, textCol = textCol), k).cache()
    val storePath = new org.apache.hadoop.fs.Path(corpusSigDir)
    val fs = storePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val priorDirs =
      if (fs.exists(storePath))
        fs.listStatus(storePath).filter(_.isDirectory).map(_.getPath)
          .filter(p => p.getName != s"batch_$batchId" &&
            fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
          .map(_.toString).toSeq
      else Seq.empty[String]
    val survivors =
      if (priorDirs.nonEmpty) {
        val corpusSigs = spark.read.parquet(priorDirs: _*)
        val hits = Dedup.corpusCollisions(sigs, corpusSigs, bandRows, broadcastBatch)
        batch.join(hits.withColumnRenamed("id", idCol), Seq(idCol), "left_anti")
      } else batch
    val kept = survivors.cache()
    kept.write.mode("overwrite").parquet(s"$sinkDir/batch_$batchId")
    // only survivors' signatures enter the store: a dropped near-dup must
    // not shadow future docs that resemble it but not the kept original.
    // Sink first, then store: a crash between the two replays with the
    // store view unchanged, so the recomputed survivors are identical
    // and both overwrites converge to the same content.
    sigs.join(kept.select(col(idCol).as("id")), "id")
      .write.mode("overwrite").parquet(s"$corpusSigDir/batch_$batchId")
    kept.unpersist()
    sigs.unpersist()
  }

  /** The committed sink of [[ingestDedupBatch]] (survivor docs across
    * all per-batch dirs). */
  def ingestedDocs(spark: SparkSession, sinkDir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(sinkDir)

  /** foreachBatch body for incremental aggregate-JOIN view maintenance —
    * the streaming face of the batch q178 pattern: each micro-batch of
    * facts joins the (broadcast) static dimension, folds to per-key
    * partial state ([[graft.ops.Incremental.partial]]), merges with the
    * persisted state table, and writes the merged state as a NEW
    * version directory (`v<batchId>/`) — never overwriting the version
    * the merge is reading (the same read-while-write discipline as
    * [[ingestDedupBatch]]'s per-batch signature dirs; parquet has no
    * transactional overwrite, so replacement must be copy-on-write).
    * State lives on disk, keyed and |keys|-sized: a restart resumes
    * from the checkpoint with the view intact, and the fact history is
    * never rescanned or re-joined — per refresh the standing cost is
    * one batch-sized join plus a |keys|-sized merge, exactly the batch
    * face's claim, now arriving as a stream. Read the current view with
    * [[incrementalViewState]] + [[graft.ops.Incremental.finish]].
    * Superseded version dirs are pruned after the new version lands
    * (best-effort; a crash between write and prune leaves garbage,
    * never a wrong answer — reads always take the HIGHEST COMMITTED
    * version, where committed means the dir carries its `_SUCCESS`
    * marker: the parquet committer creates the directory BEFORE the
    * job commits, so a crash mid-write leaves a marker-less partial
    * dir, which every reader and the replay guard must treat as
    * never-written or the replayed batch's data would be silently
    * skipped and the partial files read as state). */
  def incrementalJoinViewBatch(dim: DataFrame, factKey: String, dimKey: String,
      groupCol: String, valueCol: String, stateDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Incremental.merge(
        graft.ops.Incremental.partial(
          batch.join(broadcast(dim), col(factKey) === col(dimKey)),
          col(groupCol), col(valueCol)) +: prev.toSeq)
    }

  /** foreachBatch body for incremental dup-GROUP maintenance — the
    * streaming face of [[graft.ops.Dedup.mergeComponents]] (q304's
    * batch invariant): each micro-batch of candidate pair edges
    * (d1, d2) — from any generator upstream: banded-LSH collisions,
    * embedding buckets, exact fingerprint matches — folds into the
    * persisted (id, component) state by closing the new edges against
    * the prior state's star edges. Old pairs are never revisited; the
    * per-batch cost is the new edges plus one |state| pass, and the
    * state after every batch equals the one-shot components of every
    * edge ever streamed. Same versioned-dir discipline as the other
    * maintenance bodies (copy-on-write v<id> dirs, `_SUCCESS`-gated
    * replay guard, prune after commit); read with
    * [[incrementalViewState]]. */
  def componentsBatch(stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Dedup.mergeComponents(prev, batch)
    }

  /** foreachBatch body for RETRACTION-AWARE incremental view
    * maintenance — the streaming face of the q185/q204 delta chain:
    * the stream is CDC rows carrying a signed `weightCol` (+1 insert /
    * −1 delete, any long multiplicity), each micro-batch folds through
    * [[graft.ops.Incremental.partialDelta]] and merges into the
    * persisted delta state (same versioned-dir discipline as the
    * insert-only view). Read with [[incrementalViewState]] +
    * [[graft.ops.Incremental.finishDelta]]: count/sum/mean exact under
    * deletes forever, min/max insert-side bounds with honest
    * `needs_rebuild` flags; run
    * [[graft.ops.Incremental.rebuildFlagged]] against the live fact
    * table on whatever cadence the flags accumulate (the flagged-keys-
    * only rescan — StreamingSpec pins the full stream→flag→rebuild
    * chain equal to the one-shot batch recompute). */
  def retractionViewBatch(groupCol: String, valueCol: String,
      weightCol: String, stateDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Incremental.mergeDelta(
        graft.ops.Incremental.partialDelta(
          batch, col(groupCol), col(valueCol), col(weightCol)) +: prev.toSeq)
    }

  /** The shared copy-on-write state fold every foreachBatch maintenance
    * body here runs: replay-guard on COMMITTED versions (foreachBatch
    * is at-least-once — a committed v≥batchId means this batch already
    * landed and must be skipped, while a crashed attempt's marker-less
    * partial dir must NOT count and is overwritten wholesale), merge
    * against the highest committed state, write v<batchId>, then prune
    * every RAW dir except the version just committed AND the committed
    * version it superseded (crashed partials and older state go).
    *
    * Concurrency contract: SINGLE WRITER (one streaming query per
    * stateDir — Structured Streaming's own checkpoint lock enforces
    * this for a given query; two queries sharing a stateDir is caller
    * error), transient readers. A reader in another session
    * ([[ksDriftCurrent]] / [[incrementalViewState]]) that resolved the
    * highest committed version just before a commit keeps a one-batch
    * grace window: the superseded version is deleted only when the
    * NEXT batch commits, so a read must straddle two full batch
    * intervals before its directory can vanish mid-read. Readers that
    * hold a resolved DataFrame across batch intervals should still
    * treat FileNotFoundException as "state advanced — re-resolve and
    * retry", the standard snapshot-reader discipline. */
  private def versionedFold(spark: SparkSession, stateDir: String,
      batchId: Long)(merge: Option[DataFrame] => DataFrame): Unit = {
    // one committed-version listing serves the replay guard, the merge
    // input, and the keep set — on an object store each listing is a
    // full directory scan plus per-dir _SUCCESS existence RPCs, so
    // re-listing per use doubles the I/O for identical semantics
    val committed = versionDirs(spark, stateDir)
    if (committed.exists(_._1 >= batchId)) return
    val prev = committed.sortBy(_._1).lastOption
    val merged = merge(prev.map { case (_, p) => spark.read.parquet(p.toString) })
    merged.write.mode("overwrite").parquet(s"$stateDir/v$batchId")
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // keep = the new version + the one it superseded (reader grace)
    val keep = Set(batchId) ++ prev.map(_._1)
    rawVersionDirs(spark, stateDir).filterNot(d => keep(d._1)).foreach { case (_, p) =>
      fs.delete(p, true): Unit
    }
  }

  /** foreachBatch body for a streaming KS drift monitor — the stream
    * face of [[graft.ops.Drift.ksStatistic]]: "did this column's
    * distribution move vs the frozen baseline?" as a continuously
    * maintained gate rather than a batch job. Each micro-batch folds
    * into a persisted per-(group, value) COUNT state table
    * ([[graft.ops.Drift.valueCounts]] — counts are mergeable integer
    * sums, so the accumulated state is EXACTLY the counts of every row
    * seen so far, and the KS computed from it equals the batch KS over
    * the full history; nothing is approximated). Same versioned-dir
    * discipline as [[incrementalJoinViewBatch]] (copy-on-write v<id>
    * dirs, `_SUCCESS`-gated replay guard, prune after commit). State is
    * |groups|·|distinct values|-sized — the same bound the batch op
    * documents: exact KS is for discrete/binned columns; quantize
    * unbounded columns upstream.
    *
    * Read the current verdict with [[ksDriftCurrent]], which joins the
    * accumulated counts against the frozen baseline counts — the
    * monitor's read path is a |state|-sized computation, it never
    * rescans the stream history. */
  def ksDriftBatch(groupCol: String, valueCol: String, stateDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Drift.mergeCounts(
        graft.ops.Drift.valueCounts(
          batch, col(groupCol), col(valueCol)) +: prev.toSeq)
    }

  /** Per-group KS of everything [[ksDriftBatch]] has accumulated vs the
    * frozen `baselineCounts` (a [[graft.ops.Drift.valueCounts]] frame —
    * snapshot it once, persist it, broadcast-sized for binned columns).
    * None before the first committed batch. */
  def ksDriftCurrent(spark: SparkSession, stateDir: String,
      baselineCounts: DataFrame): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(st => graft.ops.Drift.ksFromCounts(baselineCounts, st))

  /** Wasserstein-1 over the SAME accumulated count state — KS and W1
    * are both derived views of one sufficient statistic, so a monitor
    * gating on both pays one state table and one maintenance stream. */
  def w1DriftCurrent(spark: SparkSession, stateDir: String,
      baselineCounts: DataFrame): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(st => graft.ops.Drift.w1FromCounts(baselineCounts, st))

  /** Chi-squared over the same state — the categorical-column gate
    * (no value ordering assumed), completing the three-view monitor. */
  def chi2DriftCurrent(spark: SparkSession, stateDir: String,
      baselineCounts: DataFrame): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(st => graft.ops.Drift.chi2FromCounts(baselineCounts, st))

  /** foreachBatch body for a continuously-maintained WEIGHTED quantile
    * — the stream face of [[graft.ops.WeightedQuantile]]: each
    * micro-batch folds frozen-grid per-(group, bin) weight sums into
    * the persisted counts state (same versioned-dir discipline as
    * [[ksDriftBatch]]; the grid must be FROZEN — caller-fixed
    * [lo, hi) × bins — for the state to be purely mergeable, which is
    * the trade a streaming quantile monitor makes vs the batch face's
    * data-fit grid). State is |groups|·bins rows; the accumulated
    * counts are EXACTLY the weights of every row seen, so the quantile
    * read equals the batch computation over the full history. */
  def wquantileBatch(groupCol: String, valueCol: String, weightCol: String,
      lo: Double, hi: Double, bins: Int, stateDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.WeightedQuantile.mergeCounts(
        graft.ops.WeightedQuantile.binCounts(
          batch, col(groupCol), col(valueCol), col(weightCol),
          lo, hi, bins) +: prev.toSeq)
    }

  /** The current weighted-quantile band from everything
    * [[wquantileBatch]] has accumulated; None before the first
    * committed batch. Pass the SAME frozen grid. */
  def wquantileCurrent(spark: SparkSession, stateDir: String,
      lo: Double, hi: Double, bins: Int, pBp: Int = 5000): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(st => graft.ops.WeightedQuantile.quantileFromCounts(
        st, lo, hi, bins, pBp))

  /** foreachBatch body for a continuously-maintained corpus-mixture
    * monitor — the stream face of
    * [[graft.ops.Sampling.mixtureReweightFromCounts]] (batch query
    * q313): each micro-batch of ingested documents folds its
    * per-(source, token) counts into the persisted state (same
    * versioned-dir discipline as [[ksDriftBatch]]); the DoReMi-style
    * reweight then reads as a derived view of that one
    * sufficient-statistic table — "which sources should the next
    * mixture epoch upweight" as a standing gate over the ingest
    * stream. Stream == batch holds EXACTLY (not approximately):
    * counts are the read's sufficient statistic and integer merges
    * are order-free. State is |sources|·|vocab|-bounded — the same
    * bound the batch query documents; shingle/BPE-token the text
    * upstream if the raw token domain is unbounded. */
  def mixtureBatch(sourceCol: String, textCol: String, stateDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Drift.mergeCounts(
        graft.ops.Drift.valueCounts(
          batch.select(col(sourceCol).as("source"),
            explode(graft.ops.Portable.tokens(col(textCol))).as("tk")),
          col("source"), col("tk")) +: prev.toSeq)
    }

  /** Current mixture-reweight view of everything [[mixtureBatch]]
    * accumulated; None before the first committed batch. */
  def mixtureCurrent(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(graft.ops.Sampling.mixtureReweightFromCounts)

  /** foreachBatch body for a continuously-maintained BANDIT monitor —
    * the stream face of q335's UCB1 allocation: each micro-batch folds
    * its per-arm (pulls, successes) partials into the persisted state
    * (versioned-dir discipline as [[mixtureBatch]]); the allocation
    * choice then reads as a derived view of one |arms|-row state —
    * "which arm gets the next exploration batch" as a standing gate
    * over live traffic. The counts are UCB1's sufficient statistic
    * (exact-long merges), so the stream view equals the one-shot batch
    * computation BYTE-identically. */
  def banditBatch(arm: Column, success: Column, stateDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Stats.mergeArmCounts(
        batch.groupBy(arm.as("g"))
          .agg(count(lit(1)).as("n"),
            sum(when(success, 1L).otherwise(0L)).as("successes"))
          +: prev.toSeq)
    }

  /** Current UCB1 allocation view of everything [[banditBatch]]
    * accumulated; None before the first committed batch. */
  def ucbCurrent(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(graft.ops.Stats.ucbFromCounts)

  /** foreachBatch body for a continuously-maintained EMBEDDING-
    * COLLAPSE monitor — the stream face of q338's anisotropy: each
    * micro-batch of embedding rows folds its exact-integer Gram/sum/
    * count state (ops.Anisotropy.gramState, d²-bounded) into the
    * persisted state under the versioned-dir discipline; the top-
    * eigenvalue share then reads as a derived view — "is the embedding
    * space collapsing as new vectors ingest" as a standing gate beside
    * the q234 IVF drift gate. Integer state ⇒ the stream view equals
    * the one-shot q338 batch BYTE-identically. */
  def gramBatch(embCol: String, stateDir: String)
      (batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Anisotropy.mergeGramState(
        graft.ops.Anisotropy.gramState(batch, col(embCol)) +: prev.toSeq)
    }

  /** Current anisotropy view of everything [[gramBatch]] accumulated;
    * None before the first committed batch. */
  def anisotropyCurrent(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(graft.ops.Anisotropy.anisotropyFromState)

  /** foreachBatch body for a continuously-maintained CALIBRATION
    * monitor — the stream face of [[graft.ops.Calibration]]: each
    * micro-batch of scored rows (`probCol`, `labelCol`) folds its
    * per-bin (n, n_pos, Σp, Σ(p−y)²) partials into the persisted
    * state (versioned-dir discipline as [[ksDriftBatch]]); the
    * reliability table and Brier score then read as derived views of
    * one ≤bins-row state — "is the production scorer still
    * calibrated" as a monitored gate instead of a batch audit. */
  def calibrationBatch(probCol: String, labelCol: String, bins: Int,
      stateDir: String)(batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Calibration.mergeState(
        graft.ops.Calibration.binState(
          batch, col(probCol), col(labelCol), bins) +: prev.toSeq)
    }

  /** Current (reliability table, Brier) views of everything
    * [[calibrationBatch]] accumulated; None before the first commit. */
  def calibrationCurrent(spark: SparkSession,
      stateDir: String): Option[(DataFrame, DataFrame)] =
    incrementalViewState(spark, stateDir).map(st =>
      (graft.ops.Calibration.reliabilityFromState(st),
        graft.ops.Calibration.brierFromState(st)))

  /** The PR-curve (threshold sweep) view of the same accumulated
    * calibration state — a third monitor derived from the one
    * [[calibrationBatch]] state table, no extra stream pass. `bins`
    * MUST match the value the state was accumulated with (the
    * wquantileCurrent convention: the caller owns the grid params —
    * a mismatched default would label thresholds on the wrong
    * denominator). */
  def prCurveCurrent(spark: SparkSession, stateDir: String,
      bins: Int = 10): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(graft.ops.Calibration.prCurveFromState(_, bins))

  /** foreachBatch body for a continuously-maintained SURVIVAL monitor —
    * the stream face of [[graft.ops.Survival]]: each micro-batch of
    * newly-RESOLVED subjects (duration `tCol`, observed `eventCol`)
    * folds its (t, cnt, d) histogram into the persisted state; the
    * whole Kaplan-Meier curve re-derives from that one ≤|domain|-row
    * table. Subjects must enter exactly once, at resolution (event or
    * censoring) — the same at-most-once contract as every versionedFold
    * monitor. All state columns are integers, so stream == batch
    * EXACTLY, no rounding tolerance. */
  def survivalBatch(tCol: String, eventCol: String, stateDir: String)(
      batch: DataFrame, batchId: Long): Unit =
    versionedFold(batch.sparkSession, stateDir, batchId) { prev =>
      graft.ops.Survival.mergeHist(
        graft.ops.Survival.histState(batch, col(tCol), col(eventCol))
          +: prev.toSeq)
    }

  /** Current Kaplan-Meier curve of everything [[survivalBatch]]
    * accumulated; None before the first commit. */
  def survivalCurrent(spark: SparkSession,
      stateDir: String): Option[DataFrame] =
    incrementalViewState(spark, stateDir)
      .map(graft.ops.Survival.kaplanMeierFromHist(_))

  /** The current materialized state written by
    * [[incrementalJoinViewBatch]]: the highest COMMITTED version
    * directory, or None before the first committed batch. */
  def incrementalViewState(spark: SparkSession, stateDir: String): Option[DataFrame] =
    versionDirs(spark, stateDir).sortBy(_._1).lastOption
      .map { case (_, p) => spark.read.parquet(p.toString) }

  /** COMMITTED version dirs only: a `v<id>` dir counts once its
    * `_SUCCESS` marker exists. The parquet committer creates the output
    * dir up front and writes the marker at job commit, so
    * marker-filtering is what makes a crash mid-write indistinguishable
    * from never-written — the replay re-runs the merge instead of
    * skipping the batch or consuming partial files as state. */
  private def versionDirs(spark: SparkSession,
      stateDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    rawVersionDirs(spark, stateDir)
      .filter { case (_, p) =>
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")) }
  }

  /** Every `v<id>` dir regardless of commit state — the prune path's
    * view, so crashed attempts' partial dirs get cleaned up too. */
  private def rawVersionDirs(spark: SparkSession,
      stateDir: String): Seq[(Long, org.apache.hadoop.fs.Path)] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v"))
      .flatMap(s => scala.util.Try(s.getPath.getName.drop(1).toLong).toOption
        .map(_ -> s.getPath))
  }

  /** Per-type top-k events by value via the mergeable
    * [[graft.ops.GroupTopK]] Aggregator — the streaming face of the
    * skew-proof top-k: the SAME typed aggregator runs under the
    * streaming state store (its merge is what incremental micro-batch
    * aggregation calls), so per-key state is bounded at k pairs forever,
    * stream or batch. Ties break event_id-DESC (the reference tuple
    * order). Complete/update output modes; works identically on a batch
    * frame. */
  def topEventsByType(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), col("value"), col("event_id"))
      .as[(String, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(new graft.ops.GroupTopK[Long](k).toColumn.name("top"))
      .toDF("event_type", "top")
      .select(col("event_type"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("event_type"), (col("i") + 1).as("rn"),
        col("e._2").as("event_id"), col("e._1").as("value"))
  }

  final case class EventRow(event_id: Long, user_id: Long, event_type: String, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** One closed activity session: bounds in epoch MICROS (exact longs —
    * no float/tz ambiguity across engines), event count, and whether a
    * dependent view→click→purchase chain completed inside the session
    * (earliest view, then earliest click at-or-after it, then earliest
    * purchase at-or-after that — set-based mins, so the verdict is
    * independent of event arrival order). */
  final case class SessionSummary(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long, has_funnel: Boolean)

  /** Gap-sessionization with in-session funnel detection as a custom
    * stateful operator — the EventTimeTimeout face of
    * flatMapGroupsWithState ([[runningTotals]] covers NoTimeout): a
    * user's session closes `gapMinutes` after their last event, and the
    * operator may only emit it once the WATERMARK has passed that
    * close (out-of-order events inside the horizon can still reorder
    * the chain), so emission happens either on-data for sessions
    * already behind the watermark or via the state timeout for users
    * who simply went quiet — the timeout is what bounds state for a
    * 100 TB/day stream: buffered events are evicted the moment no
    * future event can extend or reorder their session.
    *
    * The SAME function runs on a batch frame (flatMapGroupsWithState's
    * unified path, NoTimeout — each group is processed exactly once
    * with its full history, every session closed by construction),
    * which is the driver-visible q166 and the oracle's window-SQL
    * twin; StreamingSpec pins stream==batch on an out-of-order feed.
    *
    * Gap-chunking is EXACT for any in-session pattern: two events
    * separated by a gap > gapMinutes can never belong to one chain,
    * because every chain is contained in one session by definition. */
  def sessionFunnels(events: DataFrame, gapMinutes: Int = 60): Dataset[SessionSummary] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000000L
    val streaming = events.isStreaming

    def sessions(evts: Seq[(Long, String)]): Seq[Seq[(Long, String)]] = {
      val sorted = evts.sortBy(_._1)
      if (sorted.isEmpty) Nil
      else sorted.tail.foldLeft(Vector(Vector(sorted.head))) { (acc, e) =>
        if (e._1 - acc.last.last._1 > gapUs) acc :+ Vector(e)
        else acc.init :+ (acc.last :+ e)
      }
    }
    def summarize(user: Long, sess: Seq[(Long, String)]): SessionSummary = {
      val v = sess.collect { case (t, "view") => t }.minOption
      val c = v.flatMap(v0 => sess.collect {
        case (t, "click") if t >= v0 => t }.minOption)
      val p = c.flatMap(c0 => sess.collect {
        case (t, "purchase") if t >= c0 => t }.minOption)
      SessionSummary(user, sess.head._1, sess.last._1, sess.size, p.isDefined)
    }

    // keep the watermarked `ts` attribute in the projection — event-time
    // timeout requires the watermark column to survive to the stateful op
    withWm(events)
      .select(col("ts"), col("user_id"),
        unix_micros(col("ts")).as("us"), col("event_type"))
      .as[(java.sql.Timestamp, Long, Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append,
        if (streaming) GroupStateTimeout.EventTimeTimeout
        else GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[(java.sql.Timestamp, Long, Long, String)],
            state: GroupState[Seq[(Long, String)]]) => {
          if (!streaming) {
            sessions(it.map(r => (r._3, r._4)).toVector)
              .map(summarize(user, _)).iterator
          } else if (state.hasTimedOut) {
            // watermark passed last_ts + gap: every buffered session is
            // closed and immutable — emit and evict
            val out = sessions(state.get).map(summarize(user, _))
            state.remove()
            out.iterator
          } else {
            val buf = state.getOption.getOrElse(Vector.empty) ++
              it.map(r => (r._3, r._4))
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            val (closed, open) =
              sessions(buf).partition(s => s.last._1 + gapUs <= wmUs)
            if (open.isEmpty) state.remove()
            else {
              state.update(open.flatten)
              val lastUs = open.iterator.map(_.last._1).max
              // fire once the watermark can close the newest session;
              // must be strictly beyond the current watermark
              state.setTimeoutTimestamp(math.max(
                lastUs / 1000L + gapMinutes * 60000L,
                state.getCurrentWatermarkMs() + 1))
            }
            closed.map(summarize(user, _)).iterator
          }
        })
  }

  /** [[runningTotals]] on the Spark 4 `transformWithState` API — the
    * successor to the mapGroupsWithState family and where new stateful
    * operators should land: typed per-state-variable handles
    * (ValueState/ListState/MapState) instead of one opaque blob,
    * per-state TTL, timers decoupled from state, and schema evolution
    * of state across restarts. Semantics here are identical to
    * [[runningTotals]] (same emission per user per batch — pinned in
    * StreamingSpec), so the two faces document the API migration
    * 1:1. Streaming execution requires the RocksDB state store
    * provider (`spark.sql.streaming.stateStore.providerClass` →
    * RocksDBStateStoreProvider) — which is also the right provider at
    * 100 TB/day: state spills to disk with changelog checkpointing
    * instead of living in executor heap. TTL note: TTLConfig.NONE
    * keeps state forever, the same contract as [[runningTotals]]; a
    * production per-user feature served over an unbounded key space
    * would pass a TTL so dormant users' state ages out — state
    * boundedness as CONFIG, which flatMapGroupsWithState could only
    * express by hand-rolled timeout plumbing. */
  class RunningTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, UserRunning] {
    @transient private var totals:
        org.apache.spark.sql.streaming.ValueState[UserRunning] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      totals = getHandle.getValueState[UserRunning]("totals",
        org.apache.spark.sql.Encoders.product[UserRunning],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[EventRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues): Iterator[UserRunning] = {
      val prev =
        if (totals.exists()) totals.get() else UserRunning(user, 0L, 0.0)
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { r => n += 1; tot += r.value }
      val next = UserRunning(user, n, tot)
      totals.update(next)
      Iterator.single(next)
    }
  }

  /** Running per-user totals via [[RunningTotalsProcessor]]. */
  def runningTotalsTws(events: Dataset[EventRow]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** Custom stateful op: running per-user totals via
    * flatMapGroupsWithState (the mapGroupsWithState family, SURVEY §7.4).
    * Emits an updated running row per input batch per user. */
  def runningTotals(events: Dataset[EventRow]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[EventRow], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { r => n += 1; tot += r.value }
          val next = UserRunning(user, n, tot)
          state.update(next)
          Iterator.single(next)
        })
  }
}
