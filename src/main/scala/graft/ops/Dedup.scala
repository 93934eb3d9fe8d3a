package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The dedup operator library (SURVEY §7.4), parameterized and
  * composable — the query registry (graft.queries.DedupQueries) exposes
  * fixed configurations of these for the driver's oracle gate.
  *
  * Inputs are a document frame with (`idCol`: long, `textCol`: string).
  * All hashing uses the portable 60-bit md5 hash so results are
  * engine-checkable; swap [[Portable.p60]] for `hash()` (Murmur3) when
  * cross-engine parity is not needed and throughput matters.
  */
object Dedup {

  /** Distinct word n-gram shingles per document: (id, s).
    *
    * @param maxShingleDf drop shingles appearing in more than this many
    *   documents before any join — the 100 TB knob: stop-shingles create
    *   the quadratic postings lists, and dropping them bounds the join
    *   fan-out at a small recall cost. Int.MaxValue = exact.
    */
  def shingles(docs: DataFrame, n: Int = 3, idCol: String = "doc_id",
      textCol: String = "text", maxShingleDf: Int = Int.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    // per-doc dedup is map-side (inside word_shingles, before the
    // explode) — the equivalent .distinct() costs a full shuffle of the
    // exploded set. word_shingles is the codegen one-pass twin of the
    // transform+concat_ws+array_distinct chain it replaced: higher-order
    // functions evaluate as interpreted lambdas per row, and this
    // projection fronts the suite's whole shingle family.
    val base = docs
      .select(col(idCol).as("id"), Portable.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) >= n)
      .select(col("id"), explode(expr(s"word_shingles(w, $n)")).as("s"))
    if (maxShingleDf == Int.MaxValue) base
    else {
      // df via hash aggregate + join-back: partial aggregation collapses a
      // hot stop-shingle map-side (a window would buffer its whole postings
      // list in one task — the very skew the cap exists to bound), and the
      // post-agg df frame is tiny, so AQE typically broadcasts the join.
      val df = base.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf)
      base.join(df.select(col("s")), "s").select(col("id"), col("s"))
    }
  }

  /** What the [[shingles]] df cap costs: one row of
    * (n_types_kept, n_types_dropped, n_postings_kept, n_postings_dropped,
    * max_df_kept) at the given `maxShingleDf`. "Types" are distinct
    * shingles, "postings" the (doc, shingle) rows the inverted-index
    * join would see — the dropped-postings count IS the recall exposure
    * of the cap, surfaced as a monitored number instead of a silent
    * filter. One partial-aggregating groupBy on the shingle key plus a
    * one-row global aggregate — the same shuffle [[shingles]] already
    * pays for the cap, so running this next to a capped dedup is free
    * telemetry, not a second pipeline. */
  def shingleDfTelemetry(docs: DataFrame, maxShingleDf: Int, n: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val df = shingles(docs, n, idCol, textCol)
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    df.agg(
      sum(when(col("df") <= maxShingleDf, 1L).otherwise(0L)).as("n_types_kept"),
      sum(when(col("df") > maxShingleDf, 1L).otherwise(0L)).as("n_types_dropped"),
      sum(when(col("df") <= maxShingleDf, col("df")).otherwise(0L)).as("n_postings_kept"),
      sum(when(col("df") > maxShingleDf, col("df")).otherwise(0L)).as("n_postings_dropped"),
      coalesce(max(when(col("df") <= maxShingleDf, col("df"))), lit(0L)).as("max_df_kept"))
  }

  /** Exact-duplicate survivors: lowest id per normalized-text
    * fingerprint, with the copy count. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fp = docs.withColumn("fp", Portable.p60(Portable.normText(col(textCol))))
    val canon = fp.groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
    fp.join(canon, "fp").filter(col(idCol) === col("keep_id"))
      .drop("fp", "keep_id")
  }

  /** The shared inverted-index intersection plan behind [[jaccardPairs]]
    * and [[containmentPairs]]: per-pair (d1 < d2) shared-shingle count
    * with both set sizes attached — (d1, d2, c, n1, n2). Any set
    * similarity that is a function of (|A∩B|, |A|, |B|) derives from
    * this frame with one projection, so the join/cap strategy evolves in
    * exactly one place. */
  private def intersectionWithSizes(sh: DataFrame): DataFrame = {
    // cache only if the caller hasn't already (both sizes and the
    // inverted-index self-join re-read it); double-caching the same frame
    // wastes a storage copy
    val s = if (sh.storageLevel == org.apache.spark.storage.StorageLevel.NONE) sh.cache() else sh
    val sizes = s.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = s.select(col("id").as("d1"), col("s"))
      .join(s.select(col("id").as("d2"), col("s").as("s2")),
        col("s") === col("s2") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select(col("id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("id").as("d2"), col("n").as("n2")), "d2")
  }

  /** Exact n-gram Jaccard near-dup pairs (id1 < id2, jaccard rounded to
    * 6dp) via the inverted-index self-join. */
  def jaccardPairs(sh: DataFrame, minJaccard: Double): DataFrame =
    intersectionWithSizes(sh)
      .select(col("d1"), col("d2"),
        round(col("c").cast("double") / (col("n1") + col("n2") - col("c")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** Near-superset pairs: overlap coefficient |A∩B| / min(|A|,|B|) over
    * shingle sets, for pairs above `minOverlap` (id1 < id2). Catches the
    * duplication Jaccard structurally cannot: a document quoted or
    * wrapped inside a much larger one has tiny Jaccard (the union is
    * dominated by the big doc) but overlap ≈ 1. Same inverted-index
    * join as [[jaccardPairs]] — postings-bounded, never |docs|² — and
    * the same stop-shingle df cap applies upstream in [[shingles]]. */
  def containmentPairs(sh: DataFrame, minOverlap: Double): DataFrame =
    intersectionWithSizes(sh)
      .select(col("d1"), col("d2"),
        round(col("c").cast("double") / least(col("n1"), col("n2")), 6).as("overlap"))
      .filter(col("overlap") >= minOverlap)

  /** MinHash signatures (k permutations, q36's constants) per document:
    * (id, sig array<long>) — computed with the distributive Aggregator. */
  def minhashSignatures(sh: DataFrame, k: Int = 16): DataFrame = {
    val mh = udaf(new MinHashSignature(k))
    sh.select(col("id"), (Portable.p60(col("s")) % Portable.MinHashPrime).as("hx"))
      .groupBy(col("id")).agg(mh(col("hx")).as("sig"))
  }

  /** LSH candidate pairs from banded signatures (id1 < id2). Banding is
    * map-side (slice over the signature array, one row per band) — the
    * posexplode + groupBy formulation pays a shuffle to reassemble what
    * the array already holds in order. Band count is ceil(k/bandRows):
    * a trailing partial band still generates candidates.
    *
    * `keepSigs = true` carries the full signature array through the band
    * join and emits (d1, d2, sig1, sig2), so callers can compute
    * signature agreement map-side on the pair. The trade: each banded
    * row carries k longs (×bands duplication over the exchange) — but
    * the alternative is two O(N)-row joins back to the signature frame
    * after the fact, which at corpus scale is two more shuffles (or a
    * non-scalable O(N) broadcast) and was observed to flip between
    * broadcast and full exchange under AQE's under-reported cached-frame
    * stats (rounds 1-5: 5.7s vs 54.6s bench whiplash on this very plan). */
  /** Map-side banding of a signature frame: (id, b, v [, sig]) — one row
    * per band, band value joined to a string (slice over the array, no
    * shuffle). Shared by the self-join candidates and the asymmetric
    * batch-vs-corpus form so the band encoding can never drift between
    * them. `bandK = Some(p)` bands only the first p signature
    * positions (the sketch-width lever: sign wide for estimation, band
    * a narrow prefix for recall — candidates stay IDENTICAL to a
    * k=p run because the hash family is indexed, so widening the
    * sketch never moves the candidate set). */
  private def bandedSigs(sigs: DataFrame, bandRows: Int,
      keepSigs: Boolean, bandK: Option[Int] = None): DataFrame = {
    val sigCols = if (keepSigs) Seq(col("sig")) else Nil
    val len = bandK.map(p => s"least(size(sig), $p)").getOrElse("size(sig)")
    sigs
      .select(col("id") +: explode(expr(
        s"""transform(sequence(0, ($len + $bandRows - 1) DIV $bandRows - 1), b ->
              struct(b AS b, array_join(transform(slice(sig, b * $bandRows + 1, $bandRows),
                                                  x -> CAST(x AS STRING)), ':') AS v))"""))
        .as("bv") +: sigCols: _*)
      .select(col("id") +: col("bv.b").as("b") +: col("bv.v").as("v") +: sigCols: _*)
  }

  def lshCandidates(sigs: DataFrame, bandRows: Int = 4,
      keepSigs: Boolean = false, bandK: Option[Int] = None): DataFrame = {
    require(bandK.forall(_ >= bandRows),
      s"bandK must cover at least one band (>= bandRows=$bandRows), got $bandK")
    // a trailing PARTIAL band would slice a full bandRows elements and
    // cross the prefix boundary, so candidates would NOT match a true
    // k=bandK run — the documented invariant requires whole bands
    // (r20 ADVICE)
    require(bandK.forall(_ % bandRows == 0),
      s"bandK must be a multiple of bandRows=$bandRows " +
        s"(banding a partial prefix band breaks candidate-set identity), got $bandK")
    val sigCols = if (keepSigs) Seq(col("sig")) else Nil
    val banded = bandedSigs(sigs, bandRows, keepSigs, bandK)
    val left = banded.select(
      col("id").as("d1") +: col("b") +: col("v") +:
        (if (keepSigs) Seq(col("sig").as("sig1")) else Nil): _*)
    val right = banded.select(
      col("id").as("d2") +: col("b").as("b2") +: col("v").as("v2") +:
        (if (keepSigs) Seq(col("sig").as("sig2")) else Nil): _*)
    val joined = left.join(right,
      col("b") === col("b2") && col("v") === col("v2") && col("d1") < col("d2"))
    // sig1/sig2 are functions of d1/d2, so the wider distinct stays exact
    if (keepSigs) joined.select(col("d1"), col("d2"), col("sig1"), col("sig2")).distinct()
    else joined.select(col("d1"), col("d2")).distinct()
  }

  /** The exact check behind MinHash-LSH candidates: each `cand` row
    * (d1 < d2, plus whatever the caller derived per pair) with the
    * pair's shared-shingle count `c` (0 when it shares none) and both
    * set sizes `n1`, `n2`, so any Jaccard-family ratio is one
    * projection. Only the candidate docs' shingles are joined — the
    * full-corpus self-join never runs — and they are localCheckpointed
    * because the sizes and the self-join both re-read them. `sh` is
    * (id, s), as [[shingles]] emits it. */
  def candidateOverlap(sh: DataFrame, cand: DataFrame): DataFrame = {
    val candDocs = cand.select(col("d1").as("id"))
      .union(cand.select(col("d2").as("id"))).distinct()
    val shC = sh.join(candDocs, "id").localCheckpoint(true)
    val sizes = shC.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = shC.select(col("id").as("d1"), col("s"))
      .join(shC.select(col("id").as("d2"), col("s").as("s2")),
        col("s") === col("s2") && col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
    cand
      .join(inter, Seq("d1", "d2"), "left").na.fill(0L, Seq("c"))
      .join(sizes.select(col("id").as("d1"), col("n").as("n1")), "d1")
      .join(sizes.select(col("id").as("d2"), col("n").as("n2")), "d2")
  }

  /** Batch ids that LSH-collide with the corpus — the incremental-ingest
    * primitive ("which of today's crawl near-dups against everything
    * already ingested"). Asymmetric on purpose: the corpus-side banded
    * frame STREAMS (it's the 100 TB side — never collected, never
    * broadcast, never self-joined) while the batch-side bands get an
    * explicit broadcast hint by default (a daily batch is usually
    * orders of magnitude smaller than the corpus). When the batch is a
    * large slice of the corpus — a backfill, a quarterly re-crawl —
    * pass `broadcastBatch = false` so the hint degrades to a plain
    * shuffle join on (b, v) instead of OOMing the broadcast; the
    * semantics are identical. Returns distinct batch `id`s; callers
    * anti-join to keep survivors. */
  def corpusCollisions(batchSigs: DataFrame, corpusSigs: DataFrame,
      bandRows: Int = 4, broadcastBatch: Boolean = true): DataFrame = {
    val b0 = bandedSigs(batchSigs, bandRows, keepSigs = false)
      .select(col("id").as("bid"), col("b"), col("v"))
    val b = if (broadcastBatch) broadcast(b0) else b0
    val c = bandedSigs(corpusSigs, bandRows, keepSigs = false)
    c.join(b, Seq("b", "v"))
      .select(col("bid").as("id")).distinct()
  }

  /** SimHash fingerprints per document: (id, simhash) — one-pass codegen
    * expression over the token array.
    *
    * @param bits fingerprint width, 32 or 64. 32 is the oracle-parity
    *   width (DuckDB-expressible bit votes); 64 is the scale width —
    *   with byte-banding, expected in-bucket collision rate per band
    *   drops from N²/2³² to N²/2⁶⁴-ish, the difference between "fine at
    *   sf0.1" and "fine on a 100 TB corpus". */
  def simhash(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      bits: Int = 32): DataFrame = {
    require(bits == 32 || bits == 64, s"simhash width must be 32 or 64, got $bits")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col(idCol).as("id"), Portable.tokens(col(textCol)).as("w"))
      .select(col("id"), expr(s"simhash$bits(w)").as("simhash"))
  }

  /** SimHash near-dup pairs: MINIMAL-band candidates filtered by exact
    * Hamming distance. The fingerprint splits into exactly
    * maxHamming + 1 equal-width parts — the tightest pigeonhole: a pair
    * with hamming <= maxHamming has at most maxHamming differing parts,
    * so it MUST agree on at least one. Results stay exact, and the
    * width of each part is as LARGE as completeness allows, which is
    * the whole scale story: bucket keyspace is 2^width, so fewer/wider
    * bands shrink bucket occupancy exponentially. The previous
    * byte-banding (8-bit bands, 2× more bands than the threshold
    * needs) tolerated a hamming bound nobody asked for and paid for it
    * in collisions — on the r18 10× rehearsal its candidate volume hit
    * 311M pairs (84× runtime) on a vocabulary-correlated corpus where
    * hot byte values are shared by thousands of docs; 16-bit parts cut
    * that to 5.9M with identical output at every SF (measured: 15/289/
    * 2954 pairs at sf0.01/sf0.1/10×, both bandings).
    *
    * @param fpBytes fingerprint width in bytes (4 for simhash32, 8 for
    *   simhash64). Part extraction is shift-and-mask (arithmetic shift
    *   then mask), so a 64-bit fingerprint's sign bit is just another
    *   signal bit. Bit widths distribute as evenly as possible
    *   (bits mod bands leading parts get the extra bit). */
  def simhashPairs(fp: DataFrame, maxHamming: Int, fpBytes: Int = 4): DataFrame = {
    val bits = fpBytes * 8
    val bands = maxHamming + 1
    require(maxHamming >= 1 && bands <= bits,
      s"need 1 <= maxHamming <= ${bits - 1}, got $maxHamming at $bits bits")
    val base = bits / bands
    val extra = bits % bands
    val widths = Seq.tabulate(bands)(i => if (i < extra) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _).init
    val parts = widths.zip(offsets).zipWithIndex.map { case ((w, off), k) =>
      struct(lit(k).as("k"),
        expr(s"shiftright(simhash, $off) & ${(1L << w) - 1}").as("part"))
    }
    val banded = fp
      .select(col("id"), col("simhash"), explode(array(parts: _*)).as("b"))
      .select(col("id"), col("simhash"), col("b.k").as("k"), col("b.part").as("part"))
    banded.select(col("id").as("d1"), col("simhash").as("h1"), col("k"), col("part"))
      .join(banded.select(col("id").as("d2"), col("simhash").as("h2"),
        col("k").as("k2"), col("part").as("part2")),
        col("k") === col("k2") && col("part") === col("part2") && col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("h1"), col("h2")).distinct()
      .withColumn("hamming", expr("bit_count(h1 ^ h2)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Connected components over near-dup pairs (d1, d2): returns
    * (id, component) with component = the smallest id reachable. This is
    * what turns pairwise similarity into dedup groups (SURVEY §7.4:
    * "approxSimilarityJoin + connected components").
    *
    * Min-label propagation with pointer jumping: each round every node
    * adopts the smallest of its own label, its neighbors' labels and its
    * label's label (label(label(x)), read from the round's input labels)
    * — the pointer-jumping term turns O(diameter) convergence into
    * O(log diameter), which matters on chain-shaped near-dup graphs
    * (embedding chains at a loose threshold), not just dense clusters.
    * The loop stops once a round changes no label. A round budget that
    * runs out while labels still change throws an
    * `IllegalStateException` naming `maxIter` and the last changed
    * count, instead of returning unconverged components. An edge with a
    * null endpoint is dropped.
    *
    * Scale shape: the symmetric edges are converted once into node →
    * distinct neighbors, keyed by [[Rounds.partitioner]] and persisted;
    * the labels are keyed the same way, so the labels ⋈ edges join is
    * narrow. A round pays one re-key of the labels by label (the pointer
    * jump), one `reduceByKey` of the offered labels, and ONE
    * [[Rounds.checkpoint]] job, whose marker counts the labels that
    * shrank. The start (own ids, or the seed) rides round 1's job.
    * Labels are exact — the result is identical under any partitioning.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    connectedComponentsFrom(pairs, None, maxIter)

  /** [[connectedComponents]] with an optional SEED labeling: nodes
    * present in `seed` (id, component) start from their seeded label
    * instead of their own id. The fixpoint of min-label propagation is
    * the same for any valid start — each node's final label is the
    * minimum id REACHABLE in `pairs` — so seeding never changes the
    * result; it removes rounds. Validity requirement (callers'): every
    * seeded component must be a node connected to `id` within `pairs`
    * and <= id — [[mergeComponents]]' prior state satisfies it by
    * construction (the star edge id→component is itself in `pairs`, and
    * labels are min-ids). The win is the incremental-fold shape: a
    * fold's star edges collapse in the seeded initialization instead of
    * consuming the first propagation round of every fold (r22, VERDICT
    * item 1 — q304's three chained folds). */
  private[graft] def connectedComponentsFrom(pairs: DataFrame,
      seed: Option[DataFrame], maxIter: Int = 25): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val spark = pairs.sparkSession
    val p = Rounds.partitioner(spark)
    val (rows, t) = Rounds.endpoints(pairs, "d1", "d2")
    val ord = ordering(t)
    // the symmetric edge set as node -> distinct neighbors, keyed like
    // the labels so every round's labels ⋈ edges join is narrow
    val edges = Rounds.edgeCache(
      rows.flatMap(r => Iterator((r.get(0), r.get(1)), (r.get(1), r.get(0)))), p)
    try {
      val start: RDD[(Any, Any)] = seed match {
        case None =>
          edges.mapPartitions(_.map { case (id, _) => (id, id: Any) }, preservesPartitioning = true)
        case Some(st) =>
          // seeded start: known nodes begin at their prior label (already
          // the min of their prior class, never above their own id), new
          // nodes at their own id — the star-collapse round every fold
          // used to pay happens here
          val known = st.select(col("id").cast(t), col("component").cast(t)).rdd
            .flatMap(r => if (r.isNullAt(0) || r.isNullAt(1)) None else Some((r.get(0), r.get(1))))
          edges.cogroup(known, p).mapPartitions(_.flatMap { case (id, (nbrs, seeded)) =>
            if (nbrs.isEmpty) None else Some((id, seeded.foldLeft(id)(ord.min)))
          }, preservesPartitioning = true)
      }
      def round(prev: Rounds.Round[(Any, Any)]): Rounds.Round[(Any, Any)] = {
        val l = prev.rdd
        // pointer jump on the round's input labels: re-keyed by label c,
        // every id labeled c hears label(c) when that is smaller — chains
        // halve every round, turning O(diameter) convergence into
        // O(log diameter) on chain-shaped graphs
        val jumps = l.map(_.swap).cogroup(l, p).flatMap { case (c, (ids, own)) =>
          own.iterator.filter(ord.lt(_, c))
            .flatMap(lc => ids.iterator.map(id => (id, (lc, null: Any))))
        }
        // min-label propagation: each node keeps its label (the row that
        // carries it as `prev`) and offers it to every neighbor
        val offers = l.join(edges).flatMap { case (b, (lb, nbrs)) =>
          Iterator((b, (lb, lb))) ++ nbrs.iterator.map(a => (a, (lb, null: Any)))
        }
        // convergence is read off the checkpoint job itself: a marker
        // counts the labels that shrank this round; `prev` feeds the
        // marker only, the materialized state stays (id, component)
        Rounds.checkpoint(
          offers.union(jumps).reduceByKey(p,
            (x, y) => (ord.min(x._1, y._1), if (x._2 != null) x._2 else y._2)))(
          x => (x._1, x._2._1), sums = Seq(x => if (ord.lt(x._2._1, x._2._2)) 1.0 else 0.0))
      }
      // the start counts as all changed; it needs no job of its own: round
      // 1's job materializes it with the edge cache
      val labels = Rounds.iterate("connectedComponents",
        Rounds.Round(start, sums = Vector(Double.PositiveInfinity)), maxIter)(round,
        more = _.sums(0) > 0, unconverged = Some(last =>
          s"connected components did not converge within maxIter=$maxIter rounds: " +
            s"the last round still changed ${last.sums(0).toLong} labels")).rdd
      Rounds.frame(spark, labels.map { case (id, c) => Row(id, c) },
        ("id", t, true), ("component", t, true))
    } finally edges.unpersist(blocking = false): Unit
  }

  /** The order Spark's `min` and `least` give external row values of
    * type `t`: strings compare as UTF-8 bytes, every other orderable
    * type by its Java `compareTo`. */
  private def ordering(t: DataType): Ordering[Any] = t match {
    case StringType => new Ordering[Any] {
      def compare(x: Any, y: Any): Int = UTF8String.fromString(x.asInstanceOf[String])
        .compareTo(UTF8String.fromString(y.asInstanceOf[String]))
    }
    case _ => new Ordering[Any] {
      def compare(x: Any, y: Any): Int = x.asInstanceOf[Comparable[Any]].compareTo(y)
    }
  }

  /** Incremental component maintenance: fold a NEW batch of pair edges
    * into a prior (id, component) state, producing the exact components
    * of the cumulative edge set — without ever revisiting old pairs.
    * The prior state re-enters the closure as STAR edges (id →
    * component): stars preserve the connectivity classes and collapse
    * in one propagation round, so the per-batch cost is dominated by
    * the NEW edges plus one star pass over |state| rows — the
    * day-over-day shape of dup grouping at crawl scale, where
    * recomputing components over every pair ever seen grows without
    * bound. Labels stay canonical min-ids: each class's label IS its
    * minimum member, a star keeps that member in the class, and the
    * min-label propagation re-derives the global minimum across any
    * classes a new edge merges. Min-id nodes carry their state row as
    * a self-edge (d1 = d2), which [[connectedComponents]] tolerates —
    * that is what keeps a class's anchor present even when no new edge
    * touches it. */
  def mergeComponents(prior: Option[DataFrame], newPairs: DataFrame): DataFrame = {
    val np = newPairs.select(col("d1"), col("d2"))
    val edges = prior
      .map(p => p.select(col("id").as("d1"), col("component").as("d2"))
        .unionByName(np))
      .getOrElse(np)
    // prior labels double as the SEED labeling (valid by construction:
    // each is a connected min-id under the star edges just added) — the
    // fold's star-collapse round happens in the initialization instead
    // of consuming propagation round 1 (r22)
    connectedComponentsFrom(edges, prior)
  }

  /** One representative per near-dup component — what a production
    * dedup keeps (the min-id label of [[connectedComponents]] is a group
    * key, not a retention policy). `scored` is the full corpus as
    * (doc_id, score); `comps` the (id, component) frame from
    * [[connectedComponents]] — docs absent from it (never paired) are
    * their own component. Highest score wins, ties to the smaller id.
    * Emits every doc with its component and a `keep` flag so callers
    * can either filter survivors or audit what was dropped. */
  def canonical(scored: DataFrame, comps: DataFrame): DataFrame = {
    val labeled = scored.join(comps, scored("doc_id") === comps("id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"),
        col("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component")).orderBy(col("score").desc, col("doc_id"))
    labeled
      .withColumn("keep", org.apache.spark.sql.functions.row_number().over(w) === 1)
      .select(col("component"), col("doc_id"), col("score"), col("keep"))
  }

  /** Content-defined chunking: split each document into token spans at
    * content-determined boundaries and fingerprint every span — the
    * distributed approximation of suffix-array exact-substring dedup
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): repeated passages shared across documents produce the
    * SAME chunk fingerprints regardless of where they sit in each doc,
    * because boundaries depend only on local content (a token t ends a
    * chunk iff p60(t) % avgTokens == 0), so an insertion upstream
    * shifts nothing downstream — the CDC property rsync/restic chunk
    * with, applied to tokens instead of bytes.
    *
    * Emits (doc_id, fp, n_tok) — one row per chunk. The whole split is
    * ONE scan-side projection (higher-order functions over the token
    * array: boundary positions → spans → fingerprints) followed by an
    * explode; no shuffle happens until the caller aggregates
    * fingerprints, so at 100 TB the cost is the scan plus one exchange
    * of (fp, doc_id) pairs — same shape as [[exact]], at chunk
    * granularity. Expected chunk length is `avgTokens` (geometric, like
    * byte-CDC); the final span is always flushed even without a
    * boundary token.
    */
  def cdcChunks(docs: DataFrame, avgTokens: Int = 16, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs
      .select(col(idCol).as("doc_id"), Portable.tokens(col(textCol)).as("w"))
      .filter(size(col("w")) > 0)
      // boundary positions (1-based, always including the last token),
      // deduplicated in case the last token is itself a boundary
      .withColumn("ends", expr(
        s"""array_sort(array_distinct(concat(
              filter(transform(w, (t, i) ->
                       CASE WHEN p60(t) % $avgTokens = 0 THEN i + 1 END),
                     x -> x IS NOT NULL),
              array(size(w)))))"""))
      .select(col("doc_id"), explode(expr(
        """transform(ends, (e, j) ->
             struct(
               p60(concat_ws(' ',
                 slice(w, CASE WHEN j = 0 THEN 1 ELSE ends[j - 1] + 1 END,
                          e - (CASE WHEN j = 0 THEN 0 ELSE ends[j - 1] END)))) AS fp,
               CAST(e - (CASE WHEN j = 0 THEN 0 ELSE ends[j - 1] END) AS BIGINT) AS n_tok))"""))
        .as("c"))
      .select(col("doc_id"), col("c.fp").as("fp"), col("c.n_tok").as("n_tok"))
  }
}
