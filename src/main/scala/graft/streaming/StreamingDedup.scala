package graft.streaming

import graft.ext.Dedup
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One doc in one LSH band bucket, with its hashed shingle set for
  * in-state verification. Hashes (64-bit xxhash64), not shingle
  * strings: state is replicated across the 16 bands a doc lands in,
  * so the per-element footprint is the multiplier on state-store and
  * checkpoint size — 8 bytes beats a shingle string. The Jaccard
  * count over hashes equals the count over strings except under a
  * cross-doc 64-bit collision (~m_a·m_b/2^64 per pair — negligible).
  * `ts_t` is the doc's event time under a [[Retention]] and null
  * without one.
  */
final case class BandedDoc(band: Int, bucket: Long, doc_id: Long,
    shl: Seq[Long], ts_t: java.sql.Timestamp)

/** A verified near-dup pair (same contract as Dedup.jaccardPairs). */
final case class NearDupPair(a: Long, b: Long, n_common: Int,
    n_a: Int, n_b: Int)

/** One perceptual-hash signature in one pigeonhole band bucket —
  * the full 4-band signature rides along so the in-state verify can
  * compute exact hamming (16 bytes/occupant; a doc occupies ≤4
  * buckets). `ts_t` as in [[BandedDoc]]. */
final case class PhashBucketed(band: Int, bval: Int, doc_id: Long,
    b0: Int, b1: Int, b2: Int, b3: Int, ts_t: java.sql.Timestamp) {
  def bands: Array[Int] = Array(b0, b1, b2, b3)
}

/** A verified perceptual near-dup pair (same contract as the batch
  * Multimodal.phashPairs row). */
final case class PhashPair(a: Long, b: Long, hamming: Long)

/** Event-time retention of a stateful pair stream — "near-dups within
  * the last `ms` milliseconds", the C4/CCNet regime that keeps state
  * finite on an infinite stream. `tsCol` is the input's TIMESTAMP
  * column, with `withWatermark(tsCol, ...)` applied by the caller. */
final case class Retention(tsCol: String, ms: Long)

/** One cluster-assigned vector flowing into the semantic-dedup
  * stateful prune. */
final case class ClusterVec(cid: Long, vec_id: Long, e: Seq[Double])

/** A kept (surviving) vector in a cluster's state. */
final case class KeptVec(vec_id: Long, e: Array[Double])

/** The streaming SemDeDup verdict for one vector (same columns as the
  * batch face's output). */
final case class SemanticDecision(vec_id: Long, cid: Long, kept: Boolean)

/** One event-timed key routed to its Bloom shard (`ts_us` is 0 when
  * the dedup does not rotate). */
final case class TsKey(g: Int, key: Long, ts_us: Long)

/** Bloom shard state: the active bit array and, when the dedup
  * rotates, the previous generation and the epoch (in retention units)
  * — `prev` is empty and `epoch` unused otherwise. */
final case class BloomEpochState(epoch: Long, active: Seq[Long],
    prev: Seq[Long])

/** Incremental near-dup dedup over an UNBOUNDED document stream — the
  * streaming twin of [[graft.ext.Dedup.minhashDedup]]: as documents
  * arrive, each is checked against everything previously seen and the
  * verified near-dup pairs are emitted immediately. This is the shape
  * of a continuous ingestion pipeline ("is this crawl batch a dup of
  * anything in the corpus?") where re-running batch dedup from scratch
  * per batch would be quadratic in corpus lifetime.
  *
  * Shape: the stateless stages are identical to the batch path (shingle
  * UDF → MinHash signatures as pure projections → band explode), then
  * `flatMapGroupsWithState` keyed on (band, bucket) holds the bucket's
  * previously-seen docs as state. A new doc is verified (exact shingle
  * Jaccard, same integer threshold as batch) against its bucket peers
  * only — candidates ∝ bucket sizes, never all-pairs, exactly like the
  * batch join.
  *
  * Semantics/caveats (all shared with any LSH dedup):
  * - A pair sharing several buckets is emitted once PER shared bucket —
  *   at-least-once pair delivery; consumers dedupe on (a, b) (the
  *   batch path's `.distinct()`; the spec collects to a set).
  * - State grows with the corpus — that is the operator's contract
  *   ("dedup against everything seen"). Production deployments bound
  *   it by passing `retention = Some(Retention(tsCol, ms))`: buckets
  *   idle past the retention watermark are evicted by event-time
  *   timeout ("dedup within N days" — the C4/CCNet regime).
  * - Pairs are ordered (min, max) so emission order never affects the
  *   pair identity.
  */
object StreamingDedup {

  /** docs: streaming DataFrame with (doc_id LONG, text STRING). Returns
    * a streaming Dataset of verified pairs (append mode).
    *
    * With `retention`, docs also carry the retention's watermarked
    * TIMESTAMP column: a pair is reported iff the two docs' event times
    * are within `retention.ms`, each bucket's state is kept alive
    * `retention.ms` past its newest doc's event time, and buckets idle
    * longer are EVICTED by the engine when the watermark passes (a doc
    * arriving later simply starts the bucket fresh — near-dups of
    * evicted docs are no longer reported, by design). State is bounded
    * by stream rate × retention instead of corpus lifetime. Without
    * it, state is kept forever (NoTimeout).
    */
  def nearDupPairsStream(docs: DataFrame,
      retention: Option[Retention] = None): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    banded(withEventTime(docs, retention), extras = Seq("shl", "ts_t"))
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id"), col("shl"), col("ts_t"))
      .as[BandedDoc]
      .groupByKey(d => (d.band, d.bucket))
      .flatMapGroupsWithState(OutputMode.Append, timeout(retention))(
        verifyBucket(retention.map(_.ms)))
  }

  /** Streaming perceptual near-dup pairs — the real-time face of
    * [[graft.ext.Multimodal.phashPairs]], over ANY of the aHash-band
    * signature streams (image thumbs, audio envelopes, video
    * keyframes — the band schema is the contract). Keyed state per
    * (band, bval) pigeonhole bucket holds the signatures seen in that
    * bucket; each arrival verifies exact hamming against the bucket's
    * occupants and emits pairs in append mode.
    *
    * EXACTLY-ONCE across buckets without a post-hoc distinct (the
    * batch face dedups with `.distinct()` — a streaming append sink
    * cannot): a pair within hamming ≤ 3 shares ≥1 band, possibly
    * several, and every sharing bucket sees both signatures — so each
    * bucket recomputes, locally and deterministically, the pair's
    * FIRST shared band from the two full signatures it already holds,
    * and only the bucket whose band index equals it emits. No
    * cross-bucket coordination, no duplicate emission, no loss.
    *
    * State contract matches [[nearDupPairsStream]]: without
    * `retention`, NoTimeout (state ∝ bucket occupancy forever —
    * bounded by the corpus, the right default for a bounded backfill);
    * with it, the same "near-dups within the last N days" contract,
    * state bounded by stream rate × retention. In-batch arrivals
    * process in doc_id order, so replay after a crash reproduces
    * identical pair sets.
    *
    * sigs: streaming DataFrame with (doc_id LONG, b0..b3 INT), plus the
    * retention's watermarked TIMESTAMP column when one is given.
    */
  def phashPairsStream(sigs: DataFrame, maxHamming: Int = 3,
      retention: Option[Retention] = None): Dataset[PhashPair] = {
    // same guard as the batch phashPairs: beyond hamming 3 the 4-band
    // pigeonhole no longer guarantees a shared band, so recall silently
    // drops AND the first-shared-band exactly-once rule stops covering
    // every qualifying pair
    require(maxHamming < 4, "pigeonhole over 4 bands covers hamming <= 3")
    val spark = sigs.sparkSession
    import spark.implicits._
    withEventTime(sigs, retention)
      .select(col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("ts_t"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
      .toDF("doc_id", "b0", "b1", "b2", "b3", "ts_t", "band", "bval")
      .select(col("band").cast("int"), col("bval").cast("int"),
        col("doc_id"), col("b0"), col("b1"), col("b2"), col("b3"),
        col("ts_t"))
      .as[PhashBucketed]
      .groupByKey(d => (d.band, d.bval))
      .flatMapGroupsWithState(OutputMode.Append, timeout(retention))(
        verifyPhashBucket(maxHamming, retention.map(_.ms)))
  }

  /** The `ts_t` column both pair families carry: the retention's
    * event time, or a null TIMESTAMP without one. The TIMESTAMP column
    * itself rides through to the stateful operator (not a precomputed
    * epoch), because Spark requires the watermarked attribute in the
    * stateful operator's child output to allow event-time timeouts.
    * Null event times cannot participate in retention math (and the
    * watermark ignores rather than filters them) — they are dropped at
    * the plan level before the stateful operator. */
  private def withEventTime(df: DataFrame,
      retention: Option[Retention]): DataFrame = retention match {
    case Some(r) =>
      df.filter(col(r.tsCol).isNotNull).withColumn("ts_t", col(r.tsCol))
    case None => df.withColumn("ts_t", lit(null).cast("timestamp"))
  }

  private def timeout(retention: Option[Retention]): GroupStateTimeout =
    if (retention.isEmpty) GroupStateTimeout.NoTimeout
    else GroupStateTimeout.EventTimeTimeout

  /** The one state rule of both pair families: each new arrival
    * (sorted by doc_id, so replay is deterministic) is verified by
    * `verify(arrival)(peer)` against the bucket's seen docs and the
    * earlier arrivals of the same batch, then folded into state.
    *
    * A re-delivered doc_id (upstream replay / duplicate ingest, across
    * batches or within one) is a no-op: appending it again would
    * double bucket state and re-emit every pair involving the doc on
    * later matches. The id set makes the check O(1) — a linear
    * exists() scan made each state update O(bucket²) per batch on top
    * of the pair scan.
    *
    * Without retention every arrival pairs with everything seen and
    * state is kept forever. With `retentionMs`, a pair is reported iff
    * the two docs' event times are within `retentionMs` of each other
    * — enforced in the PREDICATE, not via state timeout, because
    * timeouts only fire for groups receiving NO data in a batch: a
    * bucket whose expired state meets a new arrival in the same batch
    * would otherwise resurrect pairs past retention
    * (batch-boundary-dependent results). The event-time timeout is
    * only garbage collection for idle buckets. Storage is pruned
    * against the WATERMARK's retention window (not this batch's max
    * event time — a late-but-valid future arrival can be older than
    * the batch max, and pruning to the batch max would silently lose
    * its in-retention pairs). */
  private def foldRetained[T: scala.reflect.ClassTag, P](
      retentionMs: Option[Long], id: T => Long, ts: T => java.sql.Timestamp,
      rows: Iterator[T], state: GroupState[Seq[T]])(
      verify: T => T => Option[P]): Iterator[P] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    // defensive double of the plan-level null filter: a null event
    // time must never NPE the whole query from inside state code
    val fresh = rows.filter(d => retentionMs.isEmpty || ts(d) != null)
      .toArray.sortBy(id)
    if (fresh.isEmpty) return Iterator.empty
    def ms(d: T): Long = ts(d).getTime
    lazy val wm = state.getCurrentWatermarkMs()
    var seen = state.getOption.getOrElse(Seq.empty).toVector
    // no future row can carry ts < watermark, so only state older than
    // wm - retention can never pair again — the safe prune bound
    retentionMs.foreach(r => seen = seen.filter(ms(_) >= wm - r))
    val pairOk: (T, T) => Boolean = retentionMs match {
      case None => (_, _) => true
      case Some(r) => (s, d) => math.abs(ms(d) - ms(s)) <= r
    }
    val seenIds = scala.collection.mutable.HashSet.empty[Long]
    seen.foreach(s => seenIds += id(s))
    val out = Vector.newBuilder[P]
    fresh.foreach { d =>
      if (seenIds.add(id(d))) {
        val pair = verify(d)
        seen.foreach(s => if (pairOk(s, d)) pair(s).foreach(out += _))
        seen :+= d
      }
    }
    state.update(seen)
    // GC armed from the max event time across RETAINED state — arming
    // from this batch alone would let a late-only batch regress the
    // timeout and evict a doc still within retention of future valid
    // arrivals (must also stay ahead of the current watermark or Spark
    // rejects the timestamp)
    retentionMs.foreach(r =>
      state.setTimeoutTimestamp(math.max(seen.map(ms).max + r, wm + 1)))
    out.result().iterator
  }

  /** Exact hamming verify: a pair within `maxHamming` is emitted only
    * by the bucket of its FIRST shared band — both sides' full
    * signatures are local, so every sharing bucket computes the same
    * answer. */
  private def verifyPhashBucket(maxHamming: Int,
      retentionMs: Option[Long])(
      key: (Int, Int), rows: Iterator[PhashBucketed],
      state: GroupState[Seq[PhashBucketed]]): Iterator[PhashPair] =
    foldRetained[PhashBucketed, PhashPair](retentionMs, _.doc_id, _.ts_t,
        rows, state) { d =>
      val db = d.bands
      s => {
        val sb = s.bands
        var h = 0; var i = 0
        while (i < 4) {
          h += java.lang.Integer.bitCount(sb(i) ^ db(i)); i += 1
        }
        if (h > maxHamming ||
            !(0 until 4).find(k => sb(k) == db(k)).contains(key._1)) None
        else if (s.doc_id < d.doc_id) Some(PhashPair(s.doc_id, d.doc_id, h))
        else Some(PhashPair(d.doc_id, s.doc_id, h))
      }
    }

  /** Shared stateless prefix: shingles → MinHash signatures → 64-bit
    * shingle hashes → band explode. `extras` columns ride through to
    * the banded rows. */
  private def banded(docs: DataFrame, extras: Seq[String]): DataFrame = {
    val sigs = Dedup.minhashSignatures(Dedup.shingleSets(docs))
      .withColumn("shl", transform(col("shs"), sh => xxhash64(sh)))
    Dedup.bandBuckets(sigs, extras = extras)
  }

  /** Exact shingle-Jaccard verify with the batch verify join's integer
    * threshold (3*common >= nA+nB  ⟺  J >= 0.5); (a, b) ordered by id
    * with n_a/n_b following the same order. */
  private[graft] def verifyBucket(retentionMs: Option[Long] = None)(
      key: (Int, Long), rows: Iterator[BandedDoc],
      state: GroupState[Seq[BandedDoc]]): Iterator[NearDupPair] =
    foldRetained[BandedDoc, NearDupPair](retentionMs, _.doc_id, _.ts_t,
        rows, state) { d =>
      val dSet = d.shl.toSet
      s => {
        val common = s.shl.count(dSet.contains)
        if (common * 3 < d.shl.size + s.shl.size) None
        else if (s.doc_id < d.doc_id)
          Some(NearDupPair(s.doc_id, d.doc_id, common, s.shl.size,
            d.shl.size))
        else
          Some(NearDupPair(d.doc_id, s.doc_id, common, d.shl.size,
            s.shl.size))
      }
    }

  /** Streaming decontamination — the eval-leakage check as documents
    * ARRIVE: incoming (doc_id, text) rows are shingled and joined
    * stream-static against a PRE-AGGREGATED (sh, df) training frame
    * ([[graft.ext.Dedup.shingleDf]]), then aggregated per test doc.
    * Same collision count as the batch decontaminate (equality
    * asserted in StreamingSpec); ONE implementation — this delegates
    * to [[graft.ext.Dedup.decontaminateAgainst]], so the two faces
    * cannot drift.
    *
    * Scale: Spark re-evaluates the static side every micro-batch —
    * persist `trainDf` (the shingling pass over the training corpus
    * then runs once, not once per batch); the stream side shuffles
    * only its own exploded shingles per batch. Aggregation is keyed by
    * test doc, so run in update/complete mode, or add a watermark on
    * an event-time column for append-mode emission.
    */
  def decontaminateStream(testDocs: DataFrame, trainDf: DataFrame,
      n: Int = 4): DataFrame =
    graft.ext.Dedup.decontaminateAgainst(testDocs, trainDf, n)

  /** Streaming twin of [[graft.ext.Dedup.semanticDedup]] — continuous
    * SemDeDup over an unbounded embedding stream ("is this vector a
    * semantic dup of anything the corpus already kept?"). Assignment
    * is the IDENTICAL map-side plan as batch: stream-static crossJoin
    * with the one-row broadcast quantizer + the native codegen'd
    * cosine-argmax, so a vector's cluster id is the same whichever
    * face computes it. The within-cluster prune becomes keyed state:
    * `flatMapGroupsWithState` on cid holds the cluster's KEPT vectors;
    * an arrival within `threshold` of any kept one is pruned, else
    * kept and added to state.
    *
    * Semantics note (deliberate, documented): the stream prunes
    * against the SURVIVING set — greedy first-wins, the SemDeDup
    * paper's own semantics — while the batch face prunes any row with
    * a smaller-id in-threshold neighbor, kept or not. The two agree
    * whenever near-dup relations don't chain (a≈b, b≈c, a≉c), which
    * the 0.99-threshold planted corpus guarantees and the spec
    * asserts; within a micro-batch, arrivals are processed in vec_id
    * order so a single-batch stream reproduces batch keep-lowest-id.
    * State = the deduped corpus itself, the operator's contract;
    * bound it with event-time retention exactly like
    * [[nearDupPairsStream]]'s `retention` ("dedup within N days").
    * Cluster-level state also keys the skew lever: a hot cid's state
    * is one group, so re-split hot clusters with a finer quantizer
    * upstream (same recursion as batch).
    */
  def semanticDedupStream(vecs: DataFrame, centroids: DataFrame,
      threshold: Double): Dataset[SemanticDecision] = {
    val spark = vecs.sparkSession
    import spark.implicits._
    vecs.crossJoin(broadcast(Dedup.quantizer(centroids)))
      .select(Dedup.argmaxCosine(col("e"), col("cents")).as("cid"),
        col("vec_id"), col("e"))
      .as[ClusterVec]
      .groupByKey(_.cid)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(pruneAgainstKept(threshold))
  }

  private[streaming] def pruneAgainstKept(threshold: Double)(
      cid: Long, batch: Iterator[ClusterVec],
      state: GroupState[Vector[KeptVec]]): Iterator[SemanticDecision] = {
    var kept = state.getOption.getOrElse(Vector.empty)
    val out = batch.toArray.sortBy(_.vec_id).map { v =>
      val e = v.e.toArray
      val dup = kept.exists(k => cosineJvm(e, k.e) >= threshold)
      if (!dup) kept = kept :+ KeptVec(v.vec_id, e)
      SemanticDecision(v.vec_id, cid, !dup)
    }
    state.update(kept)
    out.iterator
  }

  /** Same accumulation order as the CosineSim expression (and DuckDB's
    * list_cosine_similarity), so stream and batch threshold decisions
    * cannot diverge on arithmetic. Length mismatch → -2 (never a dup),
    * mirroring the expression's null → not-≥-threshold. */
  private def cosineJvm(a: Array[Double], b: Array[Double]): Double = {
    if (a.length != b.length) return -2.0
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i); val y = b(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  // --- Bloom-state approximate dedup ---------------------------------

  /** Approximate exactly-once dedup with PERMANENTLY BOUNDED state —
    * the 100 TB answer to `stream_dedup_exactly_once`'s honest
    * limitation: exact dedup state (dropDuplicates / the watermarked
    * variant) grows with the distinct keys inside the watermark, but an
    * unbounded-retention dedup ("never re-process any id, ever") needs
    * state ∝ all ids seen. A Bloom filter inverts the error: NO
    * duplicate is ever emitted (a seen id always hits its set bits),
    * while an ε fraction of UNIQUE ids is falsely dropped
    * (ε ≈ (1−e^{−kn/m})^k) — the right trade for at-least-once
    * ingestion where re-processing is costly and a rare dropped record
    * is recoverable from the source.
    *
    * Keys shard by hash; each shard's keyed state is a fixed m-bit
    * array (m/64 longs, checkpointed), G·m bits forever. Bits come
    * from the same portable 2-universal family as Count-Min
    * ([[graft.functions.CountMinSketch.bucket]]), k = 3 rows. A key
    * lives in exactly one shard, so the no-duplicates guarantee is
    * global. Within a batch keys process in (ts_us, key) sorted order —
    * deterministic replay after a crash.
    *
    * `retentionUs` completes the streaming dedup triangle: exact state
    * (`dropDuplicates` + watermark) is bounded by the watermark but
    * exact; without retention this dedup is fixed-size but remembers
    * FOREVER (re-ingesting last year's crawl stays silent); with it,
    * it remembers a sliding window. `keys` then also carries `ts_us`
    * (event time, µs), and two generations of bit arrays rotate on
    * EVENT-TIME epochs of length `retentionUs`: a key is "seen" if
    * either generation knows it, and every arrival re-inserts into the
    * active generation. Guarantees: a duplicate within `retentionUs` of
    * its predecessor is ALWAYS suppressed (its bits live in active or
    * previous); a key idle longer than 2·retention is forgotten and
    * re-emitted — by design, the C4-style "dedup within N days"
    * contract at 2·G·m bits of state forever. Epoch rotation is
    * event-time arithmetic, so a checkpoint replay reproduces the same
    * decisions.
    *
    * ARRIVAL-ORDER CONTRACT of the rotating form (same class as
    * [[StreamOps.funnelStream]] / scd2Stream): the always-suppressed
    * guarantee holds under per-shard event-time-ordered arrival across
    * micro-batches, with disorder tolerated up to one epoch (within a
    * batch, rows are sorted by event time before applying, so
    * intra-batch disorder is free). If OTHER keys advance a shard's
    * epoch by ≥2 before a late duplicate arrives, its predecessor's
    * bits have rotated out and the late duplicate is re-emitted even
    * though its own gap is < retention — bound cross-batch lateness
    * with an upstream watermark ≤ retention to stay inside the
    * contract. An event whose timestamp lags the shard epoch entirely
    * (e < epoch) is checked/inserted against the current generations —
    * it can only cause a re-emit, never a wrongly-suppressed unique
    * beyond Bloom ε.
    */
  def bloomDedupStream(keys: DataFrame, mBits: Int, shards: Int,
      retentionUs: Option[Long] = None): Dataset[Long] = {
    require(mBits % 64 == 0 && mBits > 0,
      s"mBits must be a positive multiple of 64, got $mBits")
    require(shards > 0, s"shards must be positive, got $shards")
    require(retentionUs.forall(_ > 0), "retention must be positive")
    val spark = keys.sparkSession
    import spark.implicits._
    keys
      .select(pmod(hash(col("key")), lit(shards)).cast("int").as("g"),
        col("key"),
        (if (retentionUs.isEmpty) lit(0L) else col("ts_us")).as("ts_us"))
      .as[TsKey]
      .groupByKey(_.g)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(updateBloomShard(mBits, retentionUs))
  }

  private[graft] def updateBloomShard(mBits: Int,
      retentionUs: Option[Long] = None)(
      g: Int, batch: Iterator[TsKey],
      state: GroupState[BloomEpochState]): Iterator[Long] = {
    require(mBits % 64 == 0, "mBits must be a multiple of 64")
    val words = mBits / 64
    // without retention there is no second generation: prev stays empty
    val s = state.getOption.getOrElse(BloomEpochState(Long.MinValue,
      Seq.fill(words)(0L),
      if (retentionUs.isEmpty) Seq.empty else Seq.fill(words)(0L)))
    var active = s.active.toArray
    var prev = s.prev.toArray
    var epoch = s.epoch
    def has(gen: Array[Long], b: Int): Boolean =
      gen.nonEmpty && (gen(b >> 6) & (1L << (b & 63))) != 0L
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    batch.toArray.sortBy(t => (t.ts_us, t.key)).foreach { tk =>
      retentionUs.foreach { r =>
        val e = Math.floorDiv(tk.ts_us, r)
        if (epoch == Long.MinValue) epoch = e
        if (e == epoch + 1) {
          // normal rotation: active ages into previous
          prev = active
          active = new Array[Long](words)
          epoch = e
        } else if (e > epoch) {
          // gap ≥ 2 epochs: after two rotations both generations would
          // be all-zero anyway, so jump directly (round-9 verdict #4:
          // the old one-step `while` loop allocated a fresh array per
          // elapsed epoch — a single corrupt far-future timestamp, e.g.
          // ns parsed as µs, spun the task through millions of rotations
          // and poisoned the checkpointed epoch via an effectively-hung
          // state update). Semantically identical to stepping: every key
          // is forgotten.
          prev = new Array[Long](words)
          active = new Array[Long](words)
          epoch = e
        }
      }
      val bits = (0 until 3).map(i =>
        graft.functions.CountMinSketch.bucket(tk.key, i, mBits))
      if (!bits.forall(b => has(active, b) || has(prev, b))) out += tk.key
      // re-insert on every arrival: a continuously-seen key never ages out
      bits.foreach(b => active(b >> 6) |= 1L << (b & 63))
    }
    state.update(BloomEpochState(epoch, active.toSeq, prev.toSeq))
    out.iterator
  }

  /** Streaming twin of the segmented daily fold (r16 verdict #5) —
    * the production shape of [[graft.ext.Dedup.publishHistorySegment]]:
    * each micro-batch of (doc_id, text) dedups against the CURRENT
    * segmented index, lands its near-dup pairs under a per-batch
    * parquet dir, and folds itself into the index as segment
    * `seg_b<batchId>`.
    *
    * Exactly-once discipline (the `stream_dedup_exactly_once` family):
    * the segment name is the BATCH ID, so a replayed batch (sink
    * failure before the checkpoint commit) is retry-idempotent for
    * free — crash before the pairs landed → recompute against the
    * identical history view (its own fold had not committed);
    * crash between pairs and fold → pairs overwrite bit-identically,
    * fold completes; crash after the fold committed → the
    * `_SUCCESS` short-circuit skips ALL re-work, because re-deduping
    * would now see the batch's own docs in history (self-pairs). The
    * three windows cover the whole body, so N micro-batches produce
    * exactly the segments + pairs of N batch folds (StreamingSpec
    * pins set equality).
    *
    * Scale: identical to the batch fold — per-batch compute ∝ batch,
    * history never re-shingled, and the index can carry LSM-compacted
    * bucketed segments ([[graft.ext.Dedup.compactSegments]]) under a
    * running stream: the fold filter swap is atomic for this reader
    * too.
    *
    * Under a [[graft.ext.Dedup.CompactionPolicy]] (r17 verdict #8),
    * the policy is consulted after each batch folds and minor/major
    * compactions fire AUTOMATICALLY at the measured cadence — the
    * long-running stream maintains its own steady-state layout
    * (bounded plain tail, bounded flavor count, dial-bounded files)
    * with no manual compact calls. Replay-safe: a replayed batch
    * short-circuits before the policy runs, and a compaction the crash
    * skipped simply fires after the next fresh batch (the thresholds
    * are level-based, not edge-based). Compaction under the live
    * stream is the already-pinned atomic swap. */
  def segmentedFoldBatch(indexDir: String, pairsDir: String,
      policy: Option[Dedup.CompactionPolicy] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val seg = f"b$batchId%09d"
    // foldGate, not a bare _SUCCESS probe (r18 review): under a
    // policy, this batch's own segment may have been FOLDED AND RETIRED
    // before the checkpoint committed — the replay must still
    // short-circuit, or it would re-dedup against a history containing
    // its own docs (self-pairs) and overwrite its correct pair sink.
    // One consistent listing pass answers both "committed?" and "is
    // there history yet?".
    val (committed, complete) = Dedup.foldGate(indexDir, seg)
    if (!committed) {
      val pairs =
        if (complete.nonEmpty)
          Dedup.incrementalAgainstSegmentedIndex(s, indexDir, batch)
        else
          // very first fold of a fresh index: nothing to join yet —
          // the shared schema constant keeps this frame from drifting
          // if the pair producers' shape ever changes
          s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            Dedup.PairSchema)
      // per-batch dir + overwrite = replay-idempotent pair sink
      pairs.write.mode("overwrite").parquet(s"$pairsDir/batch_$seg")
      Dedup.publishHistorySegment(s, indexDir, seg, batch): Unit
      policy.foreach(p => Dedup.maybeCompact(s, indexDir, p): Unit)
    }
  }

  /** Wire [[segmentedFoldBatch]] to a streaming source: the running
    * daily-crawl pipeline as one `writeStream`. */
  def segmentedFoldStream(docs: DataFrame, indexDir: String,
      pairsDir: String, checkpoint: String,
      policy: Option[Dedup.CompactionPolicy] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(segmentedFoldBatch(indexDir, pairsDir, policy) _)
      .start()

  /** INGEST-TIME CURATION — the streaming twin of
    * [[graft.ext.Dedup.curateCorpus]] (r18 verdict #6): each
    * micro-batch of (doc_id, text) runs the full curation pipeline and
    * only its SURVIVORS join the stream's history:
    *
    *  1. quality gate — [[graft.ext.Dedup.curationGate]], the exact
    *     batch predicate (stateless, per-row);
    *  2. exact dedup within the batch — min doc_id per identical text
    *     (the batch pipeline's canonical rule, deterministic under
    *     replay where dropDuplicates would keep an arbitrary row);
    *  3. cross-history near-dup rejection — the batch dedups against
    *     the segmented index of PREVIOUSLY KEPT docs
    *     ([[graft.ext.Dedup.incrementalAgainstSegmentedIndex]]; exact
    *     copies are J=1.0 pairs, so one join serves both the exact and
    *     the near-dup cross-batch stages — every gated doc has ≥ 10
    *     tokens, hence shingles);
    *  4. within-batch near-dup clustering — min-label connected
    *     components over the J ≥ 0.5 pairs, canonical survivors only
    *     (identical to the batch pipeline's clustering);
    *  5. survivors land under `keptDir/batch_<seg>` (overwrite —
    *     replay-idempotent) and fold into the index as segment
    *     `seg_c<batchId>`, optionally under a [[graft.ext.Dedup
    *     .CompactionPolicy]] — state is the PUBLISHED index: bounded
    *     metadata (manifest, O(1) reads), LSM-compacted under the
    *     live stream, nothing driver-resident.
    *
    * Exactly-once: the same three crash windows as
    * [[segmentedFoldBatch]], closed the same way (foldGate replay
    * short-circuit; per-batch overwrite sinks; `_SUCCESS`-gated fold).
    *
    * Semantics vs the batch pipeline: WITHIN a batch the two are
    * identical; ACROSS batches the stream is keep-first — a doc is
    * rejected iff it near-dups a previously KEPT doc. On duplicate
    * clusters that are stars/cliques around their first-arriving
    * member (re-crawls, exact copies, perturbed copies of one
    * original — the planted worst case, StreamingSpec pins equality
    * across a mid-stream checkpoint kill) keep-first and the batch
    * min-label canonical agree; on a CHAIN a~b~c with a≁c that spans
    * batches, the batch pipeline keeps only `a` while keep-first also
    * keeps `c` — the standard, documented difference between online
    * and offline curation (the offline pass can retire `c` later). */
  def curateFoldBatch(indexDir: String, keptDir: String,
      policy: Option[Dedup.CompactionPolicy] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val s = batch.sparkSession
    val seg = f"c$batchId%09d"
    val (committed, complete) = Dedup.foldGate(indexDir, seg)
    if (committed) return
    def phase[A](name: String)(body: => A): A = {
      s.sparkContext.setJobDescription(s"curate b$batchId: $name")
      try body finally s.sparkContext.setJobDescription(null)
    }
    val good = Dedup.curationGate(
      batch.select(col("doc_id"), col("text")))
    val exactKeep = good.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text")
    // Shingle ONCE, directly above the exact-dedup: the history
    // probe, the in-batch pair generation, the kept sink and the
    // index fold all derive from this one subplan, so the shingle UDF
    // pass, a persist+count and a materialize parquet round-trip that
    // the batch-face composition paid per micro-batch all disappear
    // (r19 verdict #1). A sub-ShingleN doc shingles to the EMPTY
    // array (the documented tokensWs invariant), so no guard filter
    // is needed on the frame itself: empty sets explode to no
    // inverted-index rows (no pairs — the doc is isolated, hence
    // kept); the `n > 0` filters below replicate shingleSets' guard
    // exactly where the probe and the published index need it.
    val exactSh = exactKeep
      // shingleHashesUdf, NOT shinglesUdf: the fold publishes this
      // frame into the segmented index, so the shingle identity must
      // be the one every probe face uses (tokenHash ids since r20 —
      // Dedup.shingleSets documents the change)
      .withColumn("shs",
        graft.ext.TextAnalysis.shingleHashesUdf(Dedup.ShingleN)(col("text")))
      .withColumn("n", size(col("shs")))
      .persist()
    // populate BEFORE the probe plan consumes it (r20 review: the
    // shingled probe face's contract — against a multi-flavor index
    // the probe references this subplan twice PER FLAVOR plus the
    // anti-join's left side, and uncached each reference re-runs the
    // gate + exact-dedup shuffle and the shingle UDF pass)
    if (complete.nonEmpty)
      phase("gate + shingle (persist)")(exactSh.count(): Unit)
    // second persist at the all-consumers point: one action
    // materializes the whole history-probe pipeline off the cached
    // shingled frame, and every later consumer (pair self-join, kept
    // sink, fold) reads THIS cache. The populate must run BEFORE the
    // pair self-join: its two inverted-index sides otherwise race to
    // compute the same uncached partitions concurrently — and here
    // each recompute is the whole history join (measured: folding
    // this count into the pair action cut 3 jobs but cost +14 s of
    // duplicate work across the witness).
    val fresh = (
      if (complete.isEmpty) exactSh
      else {
        // no .distinct() on the reject side (r20 optimization): LEFT
        // ANTI join semantics are set-wise on the left regardless of
        // right-side multiplicity, so deduplicating the (batch-bounded)
        // pair projection only added one exchange per history batch
        val rejected = Dedup
          .incrementalAgainstSegmentedIndexShingled(s, indexDir,
            exactSh.filter(col("n") > 0).drop("text"))
          .select(col("b").as("doc_id"))
        exactSh.join(rejected, Seq("doc_id"), "left_anti")
      }).persist()
    phase("history join + persist")(fresh.count(): Unit)
    // the shingled pre-probe cache is consumed (fresh is materialized
    // and carries everything downstream needs); on an empty history
    // fresh IS exactSh, so releasing it here would drop the one cache
    if (complete.nonEmpty) exactSh.unpersist(): Unit
    // the verified pair set, persisted ONCE off the cached frame: one
    // count() is the emptiness decision AND materializes the CC's
    // edge input. The common production batch has NO in-batch
    // near-dups, and the entire CC fixed point (the per-batch job
    // multiplier) is skipped for it.
    val pairs = Dedup.jaccardPairsOn(fresh.drop("text"))
      .select("a", "b").persist()
    val nPairs = phase("in-batch pairs (persist+count)")(pairs.count())
    // in-batch clustering, sized to the pair count (r19 verdict #1 —
    // the distributed min-label fixed point costs ~12 jobs of fixed
    // overhead per batch): a bounded pair set union-finds on the
    // driver (one collect off the cache, exact same reject set), past
    // the cap the distributed CC runs as before. The cap bounds the
    // collect, never the data.
    val driverCcCap = Dedup.ccDriverEdges(s)
    val kept =
      if (nPairs == 0) fresh // every doc isolated ⇒ all canonical
      else if (nPairs <= driverCcCap) {
        val rejects = phase("in-batch CC (driver union-find)")(
          Dedup.unionFindRejects(pairs))
        if (rejects.isEmpty) fresh
        else {
          import s.implicits._
          fresh.join(
            broadcast(rejects.toDF("doc_id")), Seq("doc_id"),
            "left_anti")
        }
      } else {
        // driverEdgeCap = 0: THIS branch is the past-the-cap fallback —
        // the same spark.graft.cc.driverEdges cap already decided
        // against a driver collect, so the callee must not probe the
        // (known-large) pair set again
        val labels = phase("in-batch CC")(Dedup.connectedComponents(
          fresh.select("doc_id"), pairs, driverEdgeCap = 0L))
        fresh.join(
          labels.filter(col("doc_id") === col("cluster"))
            .select("doc_id"),
          Seq("doc_id"))
      }
    // per-batch dir + overwrite = replay-idempotent kept sink; the
    // sink must be fully materialized BEFORE the fold commits (the
    // fold is the batch's commit point for the gate above)
    phase("kept sink")(kept.select("doc_id")
      .write.mode("overwrite").parquet(s"$keptDir/batch_$seg"))
    phase("fold publish")(
      Dedup.publishHistorySegmentShingled(s, indexDir, seg,
        kept.filter(col("n") > 0)
          .select("doc_id", "shs", "n")): Unit)
    pairs.unpersist(): Unit
    fresh.unpersist(): Unit
    phase("compaction policy")(
      policy.foreach(p => Dedup.maybeCompact(s, indexDir, p): Unit))
  }

  /** Wire [[curateFoldBatch]] to a streaming source: the running
    * ingest-time curation pipeline as one `writeStream`. */
  def curateStream(docs: DataFrame, indexDir: String, keptDir: String,
      checkpoint: String,
      policy: Option[Dedup.CompactionPolicy] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(curateFoldBatch(indexDir, keptDir, policy) _)
      .start()

  /** The accumulated kept sinks of a curation stream, read back as
    * ONE frame over explicitly LISTED per-batch dirs — the shared
    * reader of the witness and the specs (r19 review: the listing was
    * duplicated, and the glob spelling it replaced makes Spark's
    * FileStreamSink metadata probe stat the literal glob string and
    * log a benign but alarming WARN+stacktrace on every read). */
  def readKept(s: org.apache.spark.sql.SparkSession,
      keptDir: String): DataFrame = {
    val (kfs, kp) = graft.Work.fs(keptDir)
    val dirs = kfs.listStatus(kp).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith("batch_c"))
      .map(st => graft.Work.spell(st.getPath)).sorted
    require(dirs.nonEmpty,
      s"no kept batch sinks under $keptDir — has the curation stream " +
        "committed any batch yet?")
    s.read.parquet(dirs: _*)
  }
}
