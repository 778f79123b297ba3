package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY.md §2.9: absent in the reference;
  * the `events` stream is the extension surface). Each transform takes a
  * DataFrame so it runs identically on `spark.read` (batch backfill) and
  * `spark.readStream` (live) — the batch twins in
  * [[graft.queries.RelOps]] (q_tumbling_hour, q_sessionize) are the
  * oracle-checked semantics for these operators.
  */
object StreamOps {

  /** Hourly tumbling-window counts with a 2h watermark: late events beyond
    * the watermark are dropped, state is bounded (window + watermark is
    * the scale-safe streaming aggregate — no unbounded keys). */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("value_cents"))

  /** Sliding-window counts (window `size` advancing every `slide`): each
    * event lands in size/slide overlapping windows — the hopping-window
    * aggregate for rate dashboards. Same bounded-state posture as
    * [[hourlyCounts]]: the watermark closes windows, state per key is
    * #open-windows × #event-types, independent of stream length. */
  def slidingCounts(events: DataFrame, size: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), size, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("event_type"), col("n"))

  /** Streaming count-min: hourly token-frequency sketches via the SAME
    * mergeable [[graft.functions.CountMinAgg]] aggregator as the batch
    * query — per open window the state store holds one D×W counter
    * array, not the token rows, and the watermark closes windows. The
    * streaming/batch symmetry is the point: a sketch computed on the
    * stream equals the sketch of the same rows at rest (spec-asserted),
    * so dashboards and backfills agree exactly. Input: (ts, h) with `h`
    * an element hash ([[graft.functions.TextHash.hash32]]). */
  def hourlySketch(hashes: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    hashes
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.CountMinAgg.sketch(col("h")).as("sk"))
      .select(col("window.start").as("hour_start"), col("sk"))

  /** Streaming hourly DISTINCT-count registers: the same HyperLogLog
    * bucket/rank decomposition as the batch `q_hll_distinct` inside a
    * watermarked window aggregate. Per open window the state store holds
    * 64 register rows (max rank per bucket) — distinct users per hour
    * with O(registers) state instead of O(users), and since max is
    * idempotent and mergeable, a register row computed on the stream
    * equals the one computed over the same rows at rest (spec-asserted,
    * same symmetry as [[hourlySketch]]). Input: (ts, user_id). */
  def hourlyDistinctSketch(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      // composed-builtins hash form: value-identical to the native
      // expression but needs no session registration (streaming jobs may
      // never call Tables.load)
      .withColumn("hv",
        graft.functions.TextHash.hash32Composed(col("user_id").cast("string")))
      .select(col("ts"), (col("hv") % 64).as("bucket"),
        expr("CASE WHEN hv div 64 = 0 THEN 26 " +
          "ELSE 26 - length(bin(hv div 64)) END").cast("int").as("r"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("bucket"))
      .agg(max("r").as("mr"))
      .select(col("window.start").as("hour_start"), col("bucket"), col("mr"))

  /** Streaming hourly EXACT distinct users: the
    * [[graft.functions.BitmapDistinctAgg]] OR-merge bitmap inside a
    * watermarked window aggregate — per open window the state store
    * holds ONE fixed-size word array (⌈domain/64⌉ longs), not a
    * per-user row, and the answer is EXACT, the precise complement of
    * [[hourlyDistinctSketch]]'s HLL registers (choose by domain: dense
    * bounded ids → bitmap, unbounded/sparse → sketch). OR is
    * commutative, associative and idempotent, so the streamed result is
    * bit-equal to the batch aggregate over the same rows (spec-gated;
    * idempotence additionally makes replayed events harmless). Input:
    * (ts, user_id) with ids in [0, domain). */
  def hourlyBitmapDistinct(events: DataFrame, domain: Int = 1 << 20,
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.BitmapDistinctAgg
        .distinctCount(col("user_id"), domain).as("n_distinct"))
      .select(col("window.start").as("hour_start"), col("n_distinct"))

  /** Streaming hourly HEAVY-HITTER summaries: the
    * [[graft.functions.MisraGriesAgg]] frequent-items sketch inside a
    * watermarked window aggregate — per open window the state store
    * holds ONE ≤ k-pair summary, not per-token counts (O(k) state for
    * an unbounded token domain; the streaming face of
    * q_heavy_hitters' pass 1). The summary is mergeable, so Spark's
    * partial aggregation composes it across micro-batches and
    * partitions the same way the batch aggregate composes it across
    * tasks. NOTE the asymmetry with [[hourlyDistinctSketch]]: MG
    * summaries are merge-ORDER-dependent in their residual values
    * (membership guarantees hold regardless), so the spec asserts the
    * GUARANTEE (every > N/(k+1) token of the window is in the streamed
    * summary) rather than bit-equal state. Input: (ts, tok). */
  def hourlyHeavyHitters(toks: DataFrame, k: Int = 16,
      watermark: String = "2 hours"): DataFrame =
    toks.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.MisraGriesAgg.summary(col("tok"), k).as("mg"),
        count(lit(1)).as("n_total"))
      .select(col("window.start").as("hour_start"), col("mg"),
        col("n_total"))

  /** Stream-static enrichment: the streaming fact joined to a static
    * dimension frame. No state store is involved (unlike stream-stream
    * joins) — Spark re-plans the static side per micro-batch, broadcast
    * here since dimensions are small; at scale this is the standard
    * pattern for decorating an event stream with slowly-changing
    * reference data. */
  def enrich(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Streaming exact dedup: drop replayed event ids, with state bounded
    * by the watermark (an at-least-once source made exactly-once). The
    * batch twin is a plain dropDuplicates. */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Streaming near-dup ADMISSION CONTROL: incoming documents checked
    * against an indexed static corpus — the streaming face of the
    * MinHash-LSH dedup family. The corpus is banded once
    * ([[graft.dedup.Dedup.lshBands]]); each arriving doc computes its
    * own band keys with pure projections (streaming-safe), stream-static
    * equi-joins on (band, key) — candidates only, never a corpus scan —
    * and candidates are verified with exact shingle Jaccard against the
    * corpus shingle sets. Emits one alert row per (incoming doc,
    * matched corpus doc) at or above `threshold`, deduplicated across
    * bands within the watermark.
    *
    * At scale the static side is the posting-list-shaped LSH index
    * (vocabulary of band keys → docs), re-broadcast or shuffled once per
    * micro-batch by Spark's stream-static machinery; per-batch cost is
    * proportional to the batch's candidates, not to the corpus.
    *
    * `stream` needs (doc_id, ts, text); `corpus` needs (doc_id, text).
    */
  def nearDupAlerts(stream: DataFrame, corpus: DataFrame,
      threshold: Double = 0.8, watermark: String = "1 hour"): DataFrame = {
    import graft.dedup.Dedup
    import graft.functions.TextHash
    // shingle hashing calls the native graft_md5_mod31 — install it for
    // callers whose frames never went through Tables.load
    graft.io.Tables.ensureSessionRegistered(stream.sparkSession)
    val corpusSh = TextHash.addShingleHashes(corpus, col("text"))
      .select(col("doc_id"), col("hs"))
    val corpusIndex = Dedup.lshBands(corpusSh)
      .select(col("band"), col("key"), col("doc_id").as("corpus_doc"))
    val corpusHs = corpusSh
      .select(col("doc_id").as("corpus_doc"), col("hs").as("corpus_hs"))
    val inBands = Dedup.lshBands(
        TextHash.addShingleHashes(stream.withWatermark("ts", watermark),
          col("text")))
      .select(col("doc_id").as("in_doc"), col("ts"), col("hs").as("in_hs"),
        col("band"), col("key"))
    val inter = size(array_intersect(col("in_hs"), col("corpus_hs")))
      .cast("long")
    val un = size(col("in_hs")).cast("long") +
      size(col("corpus_hs")).cast("long") - col("inter")
    inBands
      .join(corpusIndex, Seq("band", "key"))
      .join(corpusHs, Seq("corpus_doc"))
      .withColumn("inter", inter)
      .withColumn("un", un)
      .withColumn("jaccard", col("inter").cast("double") / col("un"))
      .filter(col("jaccard") >= threshold)
      .dropDuplicatesWithinWatermark("in_doc", "corpus_doc")
      .select(col("in_doc"), col("ts"), col("corpus_doc").as("dup_of"),
        col("jaccard"))
  }

  /** Stream-stream interval join: each purchase attributed to the same
    * user's clicks within the preceding hour. Both sides carry watermarks
    * and the join condition bounds event-time distance, so the state store
    * holds at most watermark+interval of either side — the bounded-state
    * shape stream-stream joins require at scale (unbounded conditions
    * would accumulate state forever). Runs identically on a batch frame
    * (plain range join).
    *
    * `joinType = "leftOuter"` keeps unattributed purchases: in streaming
    * mode the null-click row emits once the watermark proves no matching
    * click can still arrive (purchase state expiry) — exactly the
    * "campaign spend with no attributable click" report, emitted
    * as-late-as-necessary but no later. */
  def attributePurchases(events: DataFrame,
      watermarkDelay: String = "2 hours",
      joinType: String = "inner"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", watermarkDelay)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", watermarkDelay)
    purchases.join(clicks,
        col("user_id") === col("click_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
        joinType)
      .select("user_id", "purchase_id", "purchase_ts", "click_id",
        "click_ts")
  }

  /** foreachBatch sink into the date-partitioned layout, EXACTLY-ONCE
    * under micro-batch replay: rows land as parquet under
    * `path/__day=.../__batch=N/`, written with dynamic partition overwrite
    * — an overwrite replaces only the `(__day, __batch)` partitions
    * present in the incoming batch. foreachBatch batch ids are stable
    * across retries, so a replayed batch rewrites exactly its own
    * previous output and never duplicates (the reference's whole pipeline
    * is idempotent by rebuild, src/job.py:296-299; this is the streaming
    * equivalent). Same day-partitioned posture as
    * [[graft.scale.Scale.writePartitionedByDay]] — downstream batch
    * queries still prune on the leading `__day` key; `__batch` is an
    * idempotency detail they ignore. */
  def sinkPartitionedByDay(stream: DataFrame, tsCol: String,
      path: String): org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeBatchPartitionedByDay(batch, batchId, tsCol, path)
    }

  /** The per-batch writer behind [[sinkPartitionedByDay]], factored out so
    * replay idempotence is testable directly: calling it twice with the
    * same `batchId` leaves one copy of the rows. */
  private[graft] def writeBatchPartitionedByDay(batch: DataFrame,
      batchId: Long, tsCol: String, path: String): Unit =
    batch.withColumn("__day", to_date(col(tsCol)))
      .withColumn("__batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__day", "__batch")
      .parquet(path)

  /** Streaming MERGE apply — the streaming twin of
    * [[graft.queries.CdcOps.qMergeUpsert]]: each micro-batch's per-key
    * delta (event count, value cents) is merged into a keyed state table
    * by one full-outer join, and the state is EXACTLY-ONCE under batch
    * replay because versions form a deterministic chain: batch N reads
    * the newest state version `v < N` and overwrites `v=N` wholesale, so
    * a replayed batch re-reads the same predecessor and rewrites exactly
    * its own output (same idempotency-by-construction posture as
    * [[sinkPartitionedByDay]], and the incremental generalisation of the
    * reference's rebuild, reference src/job.py:296-299).
    *
    * The per-batch cost is one keyed shuffle join plus a state rewrite;
    * at 100 TB the refinement is hash-bucketed state with per-bucket
    * overwrite (only buckets containing delta keys rewrite) — the chain
    * argument is unchanged, the rewrite bound drops from O(state) to
    * O(touched buckets). That refinement is implemented:
    * [[mergeUpsertSinkBucketed]] / [[readBucketedState]].
    *
    * `checkpointLocation` is REQUIRED (ADVICE r4 #2): the exactly-once
    * chain depends on batch ids being monotone across restarts, which
    * only a durable checkpoint guarantees. A restart with a fresh/temp
    * checkpoint resets batchId to 0, so "newest v < 0" finds nothing and
    * the v=0 write silently discards all accumulated state. Failing fast
    * here turns that silent data loss into a constructor error. Versions
    * older than the newest three are pruned after each successful write
    * (three, not one: a checkpoint-replayed batch N re-reads newest
    * v < N, so its predecessor must survive batch N's own prune). */
  def mergeUpsertSink(stream: DataFrame, statePath: String,
      checkpointLocation: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(checkpointLocation.trim.nonEmpty,
      "mergeUpsertSink requires a durable checkpointLocation: without one " +
        "a restart resets batchId to 0 and discards all accumulated state")
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMergeBatch(batch, batchId, statePath)
      }
  }

  /** The per-batch merge behind [[mergeUpsertSink]], factored out so
    * replay idempotence is testable directly. Input batch: (user_id,
    * value); state row: (user_id, n, cents). */
  private[graft] def applyMergeBatch(batch: DataFrame, batchId: Long,
      statePath: String): Unit =
    mergeDeltaInto(deltaOf(batch), batchId, statePath)

  /** Per-key delta of one micro-batch: (user_id, dn, dc). */
  private def deltaOf(batch: DataFrame): DataFrame =
    batch.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("dn"),
        sum(round(col("value") * 100, 0).cast("long")).as("dc"))

  /** Versions under `root` whose write COMMITTED (the `_SUCCESS` marker
    * the parquet job commit protocol writes last). A crash mid-write
    * leaves a `v=` directory with some task-committed part files and no
    * marker — a TORN version that must be invisible to every reader:
    * the state read surface would serve partial sums, and (defensively)
    * a merge must never chain off one. The chaos spec in StreamOpsSpec
    * pins this by planting exactly such a directory. */
  private[graft] def committedVersions(fs: FileSystem,
      root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.getPath.getName.startsWith("v="))
      .filter(s => fs.exists(new Path(s.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(2).toLong)

  /** The newest committed version under `root` at or below `upTo`: the
    * one lookup every version-chain reader and writer goes through. */
  private def newestCommitted(fs: FileSystem, root: Path,
      upTo: Long = Long.MaxValue): Option[Long] =
    committedVersions(fs, root).filter(_ <= upTo).sorted.lastOption

  /** The version a SEEDED chain's batch N reads: the newest committed
    * v ≤ N. The base seed v=0 is written before the stream starts and
    * batch N writes v=N+1, so a replay never chains off its own output
    * and finding nothing means the seed is missing. */
  private[graft] def seededVersion(fs: FileSystem, statePath: String,
      batchId: Long): Long =
    newestCommitted(fs, new Path(statePath), batchId).getOrElse(
      sys.error(s"no committed index version <= $batchId under " +
        s"$statePath — the base seed (v=0) is missing"))

  /** Target bytes per state-version file, see [[sizedForState]]. */
  private final val StateFileBytes = 64L * 1024 * 1024

  /** Output-file sizing for a state-version write (r15, guide §6
    * "sensible output file sizing" / small-files): the write coalesces
    * to ⌈source bytes / [[StateFileBytes]] (64 MB)⌉ partitions,
    * where the source bytes are the on-disk length of the version(s)
    * the write derives from — one driver-side ContentSummary call, no
    * extra Spark job. Why: every state version was written at the
    * session's shuffle width, so a ~KB state became 8-16 near-empty
    * files that every later read re-split into 8-16 tasks (JobProfile:
    * the bucketed merge gate ran 32 bucket-merge jobs of 16 tasks and
    * 0.25 s each over KB-sized buckets). Bytes-derived, not a constant:
    * a TB-scale state still writes one file per 64 MB.
    *
    * `repartition`, NOT `coalesce` (r15, measured the hard way):
    * coalesce is NARROW, so coalesce(1) folds every narrow ancestor —
    * including LAZY localCheckpoint blocks, which materialize inside
    * the consuming job — into the single write task, serializing the
    * chain's whole screen/banding/assignment compute (the first cut
    * shipped coalesce and the ANN chains nondeterministically ran 2-3×
    * their medians). The repartition exchange keeps upstream compute at
    * its natural width and moves only the KB-scale result to the one
    * writer. */
  private def sizedForState(df: DataFrame, fs: FileSystem,
      sources: Seq[Path]): DataFrame = {
    val bytes = sources.filter(fs.exists)
      .map(p => fs.getContentSummary(p).getLength).sum
    df.repartition(math.max(1L, (bytes + StateFileBytes - 1) / StateFileBytes)
      .min(1 << 20).toInt)
  }

  /** Row-count flavor of [[sizedForState]] for writes whose row count
    * is already a driver scalar (seed assignments, quantizer matrices —
    * a k-row `Seq(...).toDF` otherwise writes defaultParallelism near-
    * empty files): one output partition per 64 Ki rows, the FrameMemo
    * RowsPerPartition sizing. Repartition, not coalesce — see
    * [[sizedForState]]. */
  private def sizedByRows(df: DataFrame, rows: Long): DataFrame =
    df.repartition(math.max(1L, (rows + 65535) / 65536).min(1 << 20).toInt)

  /** One version-chain merge step under `statePath`: read the newest
    * state version < batchId, full-outer-merge the delta, overwrite
    * v=batchId, prune to the newest 3 versions. */
  private def mergeDeltaInto(delta: DataFrame, batchId: Long,
      statePath: String): Unit = {
    val spark = delta.sparkSession
    val fs = hadoopFs(spark, statePath)
    val root = new Path(statePath)
    // replay must NOT read its own prior output
    val prevVersion = newestCommitted(fs, root, batchId - 1)
    val prev = prevVersion
      .fold(emptyMergeState(spark))(v => spark.read.parquet(s"$statePath/v=$v"))
    val merged = prev
      .select(col("user_id").as("pk"), col("n"), col("cents"))
      .join(delta, col("pk") === col("user_id"), "full_outer")
      .select(
        coalesce(col("pk"), col("user_id")).as("user_id"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .cast("long").as("n"),
        (coalesce(col("cents"), lit(0L)) + coalesce(col("dc"), lit(0L)))
          .cast("long").as("cents"))
    sizedForState(merged, fs,
        prevVersion.toSeq.map(v => new Path(s"$statePath/v=$v")))
      .write.mode("overwrite").parquet(s"$statePath/v=$batchId")
    // prune: keep the newest 3 versions ≤ batchId (replay of batch N needs
    // newest v < N alive); growth was one full state copy per micro-batch
    val keep = fs.listStatus(root).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .sorted.reverse
    keep.drop(3).foreach { v =>
      fs.delete(new Path(s"$statePath/v=$v"), true)
    }
  }

  /** Hash-bucketed state — the 100 TB refinement promised in
    * [[mergeUpsertSink]]'s scaladoc, now real: state lives in `buckets`
    * hash partitions (`bucket=<b>/v=<n>`), each with its OWN version
    * chain, and a micro-batch rewrites ONLY the buckets its delta keys
    * hash into. The per-bucket replay argument is [[applyMergeBatch]]'s
    * unchanged — a replayed batch re-reads each touched bucket's newest
    * v < batchId and rewrites exactly its own v=batchId — and a bucket
    * the batch does not touch keeps its newest version, which remains
    * the read surface ([[readBucketedState]]). Rewrite cost per batch
    * drops from O(|state|) to O(Σ touched-bucket sizes): with keys
    * hashing uniformly and a micro-batch touching k distinct keys, that
    * is ≤ min(k, buckets)/buckets of the state. */
  private[graft] def applyMergeBatchBucketed(batch: DataFrame,
      batchId: Long, statePath: String, buckets: Int): Unit = {
    val delta = deltaOf(batch)
      .withColumn("__b", pmod(col("user_id"), lit(buckets.toLong)))
      .localCheckpoint(true) // one delta computation, reused per bucket
    val touched = delta.select("__b").distinct().collect()
      .map(_.getLong(0)).sorted // bounded by `buckets`
    // Per-bucket merges are INDEPENDENT jobs over disjoint state dirs
    // (each bucket's version chain + _SUCCESS commit is its own), so
    // they run through a small thread pool instead of driver-sequenced
    // (r14, guide §2.6 overlap-independent-jobs): Spark's scheduler
    // back-fills each tiny merge job's tail with the next bucket's
    // tasks. A torn batch leaves an arbitrary SUBSET of buckets
    // committed instead of a sorted prefix — the replay contract is
    // per-bucket (newest committed v ≤ batch), so recovery is
    // unchanged (chaos spec pins it bucket-locally).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(touched.length, 8)))
    try {
      touched.map { b =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit =
            mergeDeltaInto(delta.filter(col("__b") === b).drop("__b"),
              batchId, s"$statePath/bucket=$b")
        })
      }.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdown()
  }

  /** The bucketed sibling of [[mergeUpsertSink]] (same fail-fast
    * checkpoint contract). */
  def mergeUpsertSinkBucketed(stream: DataFrame, statePath: String,
      checkpointLocation: String, buckets: Int = 16)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(checkpointLocation.trim.nonEmpty,
      "mergeUpsertSinkBucketed requires a durable checkpointLocation: " +
        "without one a restart resets batchId to 0 and discards all " +
        "accumulated state")
    stream.writeStream
      .option("checkpointLocation", checkpointLocation)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMergeBatchBucketed(batch, batchId, statePath, buckets)
      }
  }

  /** Current state of a bucketed merge sink: per bucket, its newest
    * COMMITTED version (buckets never touched by any batch are simply
    * absent). Torn versions — a crash mid-write leaves part files
    * without the `_SUCCESS` job-commit marker — are invisible: the read
    * surface serves the bucket's previous committed version until the
    * replayed batch rewrites the torn one (chaos-spec-pinned). */
  def readBucketedState(spark: SparkSession, statePath: String): DataFrame = {
    val fs = hadoopFs(spark, statePath)
    val root = new Path(statePath)
    val newest =
      if (!fs.exists(root)) Seq.empty[String]
      else fs.listStatus(root).toSeq
        .map(_.getPath)
        .filter(_.getName.startsWith("bucket="))
        .flatMap(b => newestCommitted(fs, b).map(v => s"$b/v=$v"))
    if (newest.isEmpty) emptyMergeState(spark)
    else spark.read.parquet(newest: _*)
  }

  /** The merge state before any batch: (user_id, n, cents), no rows. */
  private def emptyMergeState(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, n BIGINT, cents BIGINT"))

  final case class TypedEv(user_id: Long, event_type: String, ts: Timestamp)

  /** [[conversionLag]] state: the user's earliest admitted view (epoch
    * micros; MaxValue = none yet) plus the DISTINCT admitted purchase
    * instants that could still be elected, kept ASCENDING-sorted. A
    * later-admitted EARLIER view (possible while the watermark trails
    * it) can move the answer to a purchase that preceded the old first
    * view — but any future admissible view has ts ≥ watermark, so the
    * final first-view V is ≥ min(viewUs, wm) and purchases below that
    * bound are pruned every invocation (ADVICE r5): the held set is
    * bounded by the user's distinct purchase instants INSIDE the
    * watermark horizon, not all history. `done` marks a sealed
    * tombstone (viewUs/buys cleared): the pair for this user has been
    * emitted and later episodes are suppressed until the gc horizon. */
  final case class ConvState(
      viewUs: Long, buys: List[Long], lastUs: Long, done: Boolean)

  final case class ConvOut(
      user_id: Long, view_us: Long, buy_us: Long, lag_us: Long)

  /** Streaming TIME-TO-CONVERT — the stateful twin of the batch
    * q_conversion_lag endpoints: per user, the earliest view V and the
    * earliest purchase B ≥ V, emitted exactly once with its lag.
    *
    * Finality argument (why emission is safe, no retraction needed):
    * the candidate (V, B) is emitted only once the event-time watermark
    * has passed B. Every event still admissible then has ts ≥ wm ≥ B:
    * a new view cannot lower V below B (let alone below V), and a new
    * purchase cannot beat B — so the pair is immutable. While the
    * watermark trails B, an admitted out-of-order earlier view CAN
    * lower V and re-elect an earlier purchase; that is exactly why the
    * state keeps all distinct purchase instants until sealing.
    *
    * Non-converting users are garbage-collected `gcMinutes` of event
    * time after their latest event (no emission) — the operational
    * horizon every attribution system picks; a conversion landing past
    * the horizon is attributed as a fresh state. After the pair seals,
    * the state is NOT removed but kept as a `done` tombstone (user key
    * only, empty buys) until the same gc horizon: a second view→purchase
    * episode arriving post-seal (admissible — ts ≥ wm ≥ buy) would
    * otherwise rebuild fresh state and emit a SECOND pair for the user,
    * while batch mode over the same rows emits only the global first
    * pair (ADVICE r5). With the tombstone, streaming ≡ batch for any
    * episode inside the gc horizon; past it, both the tombstone and the
    * would-have-been batch window are gone and a new episode is a fresh
    * user by declared semantics. In batch mode the same function
    * computes each group's answer directly at end-of-group — the spec
    * asserts batch ≡ streaming over the same admitted rows. */
  def conversionLag(events: Dataset[TypedEv],
      watermarkDelay: String = "0 seconds",
      gcMinutes: Int = 7 * 24 * 60): Dataset[ConvOut] = {
    import events.sparkSession.implicits._
    val streaming = events.isStreaming

    def us(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    // ascending-sorted distinct insert: span is O(n), but n is the
    // watermark-horizon-pruned purchase set, not all history
    def insBuy(list: List[Long], t: Long): List[Long] = {
      val (lo, hi) = list.span(_ < t)
      if (hi.headOption.contains(t)) list else lo ::: t :: hi
    }

    def fold(st0: ConvState, e: TypedEv): ConvState = {
      val st = st0.copy(lastUs = math.max(st0.lastUs, us(e.ts)))
      e.event_type match {
        case "view" => st.copy(viewUs = math.min(st.viewUs, us(e.ts)))
        case "purchase" => st.copy(buys = insBuy(st.buys, us(e.ts)))
        case _ => st
      }
    }

    def answer(st: ConvState): Option[ConvOut] =
      if (st.viewUs == Long.MaxValue) None
      else st.buys.find(_ >= st.viewUs) // sorted asc: first ≥ V is MIN
        .map(b => ConvOut(-1L, st.viewUs, b, b - st.viewUs))

    val input = if (streaming) events.withWatermark("ts", watermarkDelay)
      else events
    val timeoutConf = if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    input
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ConvState, ConvOut](
        OutputMode.Append, timeoutConf) {
        (user: Long, evs: Iterator[TypedEv], state: GroupState[ConvState]) =>
          val prev = state.getOption
            .getOrElse(ConvState(Long.MaxValue, Nil, Long.MinValue, false))
          val st0 = evs.foldLeft(prev)(fold)
          if (!streaming) answer(st0).map(_.copy(user_id = user)).iterator
          else {
            def armGc(lastUs: Long): Unit =
              // gcMinutes of EVENT time after the user's own latest
              // event (clamped above wm — a deadline at/before the
              // watermark is rejected)
              state.setTimeoutTimestamp(math.max(
                Math.floorDiv(lastUs, 1000L) + gcMinutes * 60000L,
                state.getCurrentWatermarkMs() + 1))
            val wmUs = state.getCurrentWatermarkMs() * 1000L
            if (prev.done) {
              // sealed tombstone: suppress post-seal episodes (batch
              // emits one pair per user) until the gc horizon
              if (state.hasTimedOut) { state.remove(); Iterator.empty }
              else {
                state.update(ConvState(Long.MaxValue, Nil, st0.lastUs, true))
                armGc(st0.lastUs)
                Iterator.empty
              }
            } else {
              // prune never-electable purchases: any future admissible
              // view has ts ≥ wm, so the final first-view V ≥
              // min(viewUs, wm); purchases below that bound cannot
              // satisfy buy ≥ V (ADVICE r5)
              val st = st0.copy(
                buys = st0.buys.dropWhile(_ < math.min(st0.viewUs, wmUs)))
              val ans = answer(st).map(_.copy(user_id = user))
              ans match {
                case Some(out) if wmUs >= out.buy_us =>
                  // sealed: nothing admissible can change the pair;
                  // leave a tombstone so later episodes are suppressed
                  state.update(
                    ConvState(Long.MaxValue, Nil, st.lastUs, true))
                  armGc(st.lastUs)
                  Iterator.single(out)
                case _ if state.hasTimedOut && ans.isEmpty =>
                  // GC horizon reached with no conversion candidate
                  state.remove()
                  Iterator.empty
                case _ =>
                  state.update(st)
                  // fire when the candidate seals, or — for users with
                  // no candidate yet — at the gc horizon
                  ans match {
                    case Some(out) => state.setTimeoutTimestamp(math.max(
                      Math.floorDiv(out.buy_us, 1000L) + 1L,
                      state.getCurrentWatermarkMs() + 1))
                    case None => armGc(st.lastUs)
                  }
                  Iterator.empty
              }
            }
          }
      }
  }

  final case class Ev(user_id: Long, event_id: Long, ts: Timestamp)

  final case class SessionState(
      start: Timestamp, last: Timestamp, n: Int)

  final case class SessionOut(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Int)

  /** Gap-based sessionization via flatMapGroupsWithState: per-user state
    * holds the set of OPEN session intervals; a gap > `gapMinutes`
    * separates sessions.
    *
    * State is a list of disjoint, gap-separated intervals (not just the
    * newest one): an admitted out-of-order event (possible across
    * micro-batches whenever `watermarkDelay` > 0) merges into whichever
    * interval it is within gap-distance of — extending either end, never
    * regressing — and an event that lands within gap-distance of TWO
    * intervals bridges them into one. Late events more than a gap before
    * the newest session therefore open their own interval and still merge
    * with each other (ADVICE r3: the previous emit-immediately-as-
    * singleton shape split mutually-adjacent late events that the batch
    * twin would merge). Interval-hull merging is exactly chain-closure
    * sessionization: each interval's events have consecutive sorted gaps
    * ≤ gap, so any point within gap of the hull is within gap of a member
    * — streaming output equals the batch/SQL-twin sessions over the same
    * admitted rows, regardless of arrival order.
    *
    * An interval is emitted only once the event-time watermark passes its
    * `last + gap` — no still-admissible event can merge with it after
    * that. Emission is driven by EVENT-TIME TIMEOUTS armed at the
    * earliest such deadline; when the watermark passes it the group fires
    * with an empty iterator and every sealed interval flushes. State per
    * user is bounded by #intervals inside the watermark horizon
    * (≤ watermarkDelay/gap + 1): bounded by active users, the scale-safe
    * shape.
    *
    * In batch mode Spark feeds each group once with no prior state and no
    * timeouts; every interval flushes at end-of-group — same semantics as
    * the windowed SQL twin (q_sessionize), which the spec asserts. */
  def sessionize(events: Dataset[Ev], gapMinutes: Int = 30,
      watermarkDelay: String = "0 seconds"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes.toLong * 60L * 1000000L
    val streaming = events.isStreaming // don't capture the Dataset itself

    // full-precision epoch micros: Timestamp.getTime alone truncates to ms
    def us(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    // merge one event into the disjoint interval list; it may bridge two
    def merge(list: List[SessionState], e: Ev): List[SessionState] = {
      val t = us(e.ts)
      val (near, rest) = list.partition(s =>
        t >= us(s.start) - gapUs && t <= us(s.last) + gapUs)
      val start = (e.ts :: near.map(_.start)).minBy(us)
      val last = (e.ts :: near.map(_.last)).maxBy(us)
      SessionState(start, last, near.map(_.n).sum + 1) :: rest
    }

    val input = if (streaming) events.withWatermark("ts", watermarkDelay)
      else events
    val timeoutConf = if (streaming) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    input
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, timeoutConf) {
        (user: Long, evs: Iterator[Ev], state: GroupState[List[SessionState]]) =>
          // fold the batch into the carried intervals (chain closure is
          // order-insensitive, so no sort is needed)
          val merged = evs.foldLeft(state.getOption.getOrElse(Nil))(merge)
          if (!streaming) {
            merged.sortBy(s => us(s.start))
              .map(s => SessionOut(user, s.start, s.last, s.n)).iterator
          } else {
            // seal every interval the watermark has passed: future
            // admitted events all have ts >= watermark > last + gap
            val wmMs = state.getCurrentWatermarkMs()
            val (closed, open) =
              merged.partition(s => us(s.last) + gapUs < wmMs * 1000L)
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              // fire when the watermark passes the EARLIEST deadline
              // (clamped above the watermark: ms-floor of a µs deadline
              // exactly at the watermark would otherwise be rejected)
              val deadline = open.map(s =>
                Math.floorDiv(us(s.last), 1000L) +
                  gapMinutes * 60L * 1000L).min
              state.setTimeoutTimestamp(math.max(deadline, wmMs + 1))
            }
            closed.sortBy(s => us(s.start))
              .map(s => SessionOut(user, s.start, s.last, s.n)).iterator
          }
      }
  }

  /** Conf-resolved scratch root for every streaming split/state/checkpoint
    * directory this module creates (VERDICT r10 wrong #2): local runs
    * default to `/tmp`; a cluster points `spark.graft.scratchRoot` at a
    * durable Hadoop FS (the merge-state version chains and the streaming
    * checkpoints must survive executor loss there) and every registered
    * streaming query runs unchanged — all paths below derive from this
    * one resolver, and all create/delete goes through the Hadoop
    * FileSystem API, never `java.io.File`. */
  private[graft] def scratchRoot(s: SparkSession): String =
    s.conf.get("spark.graft.scratchRoot", "/tmp")

  private def hadoopFs(s: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), s.sessionState.newHadoopConf())

  private def deletePath(s: SparkSession, path: String): Unit = {
    hadoopFs(s, path).delete(new Path(path), true)
    ()
  }

  /** Register a JVM-exit delete for a whole-JVM scratch dir. The hook
    * captures the Hadoop conf, not the (possibly stopped-by-then)
    * session. */
  private def deleteAtExit(s: SparkSession, path: String): Unit = {
    val conf = s.sessionState.newHadoopConf()
    sys.addShutdownHook {
      FileSystem.get(new java.net.URI(path), conf).delete(new Path(path), true)
      ()
    }
    ()
  }

  /** State-store partition count for the streaming queries. Why 8:
    * per-micro-batch cost at gate scale is dominated by per-partition
    * state-store open/commit/maintenance (32 stores × 6 batches of file
    * ops for a 150-key state), not by data — measured 2× on the
    * sessionize gate and 2.5× on conversionLag at sf0.1 (9.4 → 5.2 s,
    * 8.8 → 3.5 s medians). At production scale the right number RISES
    * with the keyspace (state partitions bound stateful parallelism and
    * per-store memory), not with the batch engine's shuffle width. */
  private final val StreamStatePartitions = 8

  /** AQE off for the per-batch sink bodies (r15, measured): a
    * maintenance batch here is a LATENCY-bound sequence of small plans
    * (screen → ledger write → fold write), and AQE turns every Exchange
    * into its own materialized query stage — a separate job plus a
    * driver re-optimization pause. JobProfile measured the dedup chain
    * at 75 jobs/run with AQE vs 33 without (−1.8 s of a 7.9 s run;
    * retune −1.2 s) with the 8-partition state width making coalescing
    * moot. */
  private final val StreamBatchAQE = false

  /** Run `body` (which starts and drains a streaming query) with the
    * session's shuffle-partition count — which Structured Streaming
    * latches at query start as its STATE-STORE partition count — set to
    * [[StreamStatePartitions]] and AQE set to [[StreamBatchAQE]],
    * restoring both previous values after, also when `body` throws.
    *
    * These are SESSION-GLOBAL SQLConf flips: every other query on the
    * same `SparkSession` sees them while `body` runs. So this assumes
    * one query at a time per `SparkSession`; ROADMAP direction 5
    * replaces the flip with per-query settings. */
  private def withStatePartitions[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val prev = s.conf.get(key)
    val prevAqe = s.conf.get(aqeKey)
    s.conf.set(key, StreamStatePartitions.toString)
    s.conf.set(aqeKey, StreamBatchAQE.toString)
    try body finally {
      s.conf.set(key, prev)
      s.conf.set(aqeKey, prevAqe)
    }
  }

  private val memSinkId = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run one streaming frame to completion through a memory sink with a
    * per-run UUID checkpoint under [[scratchRoot]], snapshot the settled
    * table, and clean up. Hygiene is exception-safe (ADVICE r10 #2/#3):
    * the temp view is dropped and the checkpoint deleted in `finally`,
    * so a failed `processAllAvailable` neither accumulates session
    * tables across retries nor grows the scratch root. */
  private def runToMemorySink(frame: DataFrame,
      mode: OutputMode): DataFrame = {
    val s = frame.sparkSession
    val name = s"stream_sink_${memSinkId.incrementAndGet()}"
    val ckpt =
      s"${scratchRoot(s)}/graft_sink_ckpt_${java.util.UUID.randomUUID()}"
    try {
      val q = frame.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt).outputMode(mode).start()
      try q.processAllAvailable() finally q.stop()
      s.table(name).localCheckpoint(true)
    } finally {
      s.catalog.dropTempView(name)
      deletePath(s, ckpt)
    }
  }

  /** Oracle-gated micro-batch run of [[hourlyCounts]] (VERDICT r9 next
    * #6 — the streaming family's CORRECTNESS row): the events table is
    * read through a real `readStream` file source, the SAME windowed
    * aggregate the live pipeline uses runs in complete output mode into
    * a memory sink, and the settled table is the result — so the
    * DuckDB oracle (identical to q_tumbling_hour's batch SQL) gates the
    * micro-batch execution path itself, not a batch twin. Complete
    * mode is what makes the gate exact: no window is left unflushed
    * behind the watermark when the source drains, so stream-at-rest
    * equals batch — the same symmetry the sketch specs assert, now
    * value-checked end-to-end by the driver.
    *
    * Scale posture: identical to [[hourlyCounts]] (watermark-bounded
    * state, map-side-combined counts); the memory sink holds only the
    * hour × event_type aggregate (#hours × #types rows, not events),
    * and the sink's temp view is dropped after the result is
    * materialized so repeated runs don't accumulate session tables.
    * The `ts` normalization is [[graft.io.Tables.normalizeTs]] itself
    * — `Tables.load` can't build a streaming frame (schema must be
    * supplied, not inferred), but the spelling logic is shared. */
  val qStreamHourly: graft.queries.Q = graft.queries.Q("q_stream_hourly",
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |       COUNT(*) AS n,
      |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT)
      |         AS value_cents
      |FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type"""
      .stripMargin) { (s, d) =>
    graft.io.Tables.ensureSessionRegistered(s)
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val evPath = s"$d/events.parquet"
    val schema = s.read.parquet(evPath).schema
    // the pyarrow sf layout stores each table as ONE parquet FILE (the
    // file source monitors a directory, so stream the sf dir with a
    // glob filter selecting just the events table); a Spark-written
    // table is a DIRECTORY and is streamed directly — a glob against
    // it would silently list zero files (ADVICE r10 #1)
    val isDir = hadoopFs(s, evPath)
      .getFileStatus(new Path(evPath)).isDirectory
    val src =
      if (isDir) s.readStream.schema(schema).parquet(evPath)
      else s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(d)
    val ev = graft.io.Tables.normalizeTs(src)
    // withStatePartitions (r15): this was the one stateful gate still
    // latching the session's full shuffle width as its state-store
    // count — 32 stores × 6 batches of open/commit for a #hours×#types
    // state (JobProfile: one 0.76 s 33-task batch job dominated the
    // run); the 8-partition sizing rationale is withStatePartitions'.
    val out = withStatePartitions(s)(
      runToMemorySink(hourlyCounts(ev), OutputMode.Complete()))
      .orderBy("hour_start", "event_type").localCheckpoint(true)
    // an empty settled table means the source listed no files (the
    // dir/glob mismatch above) — fail loudly, never time a no-op
    require(!out.isEmpty,
      s"q_stream_hourly: streaming source listed no rows under $evPath")
    out
  }

  /** Read surface of the flat merge sink: the newest COMMITTED state
    * version under `statePath` (torn versions invisible — same
    * `_SUCCESS`-gated rule the merge itself chains by). */
  def readMergedState(spark: SparkSession, statePath: String): DataFrame = {
    val v = newestCommitted(hadoopFs(spark, statePath), new Path(statePath))
      .getOrElse(sys.error(s"no committed merge state under $statePath"))
    spark.read.parquet(s"$statePath/v=$v")
  }

  /** Per-JVM split dirs, one per (kind, scratchRoot, sfDir): the
    * streams every registered chain replays are built once and deleted
    * at JVM exit. Per-key memoized build (ADVICE r10 #4):
    * `computeIfAbsent` runs the Spark split job under the KEY's bin lock
    * only, so concurrent first-touches of different sfDirs (or scratch
    * roots) build in parallel instead of serializing on a global
    * monitor; two racing first-touches of the SAME key still share one
    * build. */
  private val splitCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cachedSplit(s: SparkSession, d: String, kind: String)(
      build: String => Unit): String =
    splitCache.computeIfAbsent(s"$kind|${scratchRoot(s)}|$d", _ => {
      val dir = s"${scratchRoot(s)}/graft_${kind}_split_" +
        java.util.UUID.randomUUID()
      build(dir)
      dir
    })

  /** The ordered split writer: each frame of `files` becomes ONE parquet
    * file `<dir>/<name>_<k>.parquet` (tmp write, then rename), with
    * modification times 60 s apart. The file source processes oldest
    * first, so `maxFilesPerTrigger=1` delivers exactly this sequence of
    * micro-batches. The dir is scratch reused for the whole JVM and
    * deleted at exit. */
  private def writeOrderedSplit(s: SparkSession, dir: String, name: String,
      files: Seq[DataFrame]): Unit = {
    val fs = hadoopFs(s, dir)
    val t0 = System.currentTimeMillis()
    files.zipWithIndex.foreach { case (df, k) =>
      val tmp = s"$dir/__tmp"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.startsWith("part-"))
        .getOrElse(sys.error(s"no part file written under $tmp"))
      val target = new Path(dir, f"${name}_$k%02d.parquet")
      fs.rename(part, target)
      fs.delete(new Path(tmp), true)
      fs.setTimes(target, t0 + k * 60000L, -1)
    }
    deleteAtExit(s, dir)
  }

  /** An ordered split of `files` (see [[writeOrderedSplit]]), cached per
    * (kind, scratchRoot, sfDir). */
  private def orderedSplit(s: SparkSession, d: String, kind: String,
      name: String)(files: => Seq[DataFrame]): String =
    cachedSplit(s, d, kind)(writeOrderedSplit(s, _, name, files))

  /** One split of the events table into 4 parquet files, so the file
    * source delivers a genuine MULTI-batch stream (maxFilesPerTrigger=1
    * → 4 micro-batches, 4 chained merge steps) instead of collapsing the
    * whole table into one batch — the final merged state is
    * batching-invariant (per-user sums are associative), which is
    * exactly what the oracle gate checks. */
  private def eventsSplit(s: SparkSession, d: String): String =
    cachedSplit(s, d, "stream") { p =>
      graft.io.Tables.load(s, d, "events").select("user_id", "value")
        .repartition(4).write.mode("overwrite").parquet(p)
      deleteAtExit(s, p)
    }

  /** `src` read as a stream of one file per micro-batch. */
  private def fileStream(s: SparkSession, src: String): DataFrame =
    s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)

  /** One run's scratch dirs under [[scratchRoot]], globally UUID-unique
    * (a reused checkpoint from an earlier process would resume ITS
    * file-source log instead of streaming this split): the version
    * chain (`v=`/`q=`/`p=` versions, each committed by `_SUCCESS`), the
    * verdict ledger (`b=` per batch) and the streaming checkpoint. */
  private final class ChainRun(s: SparkSession, name: String) {
    private val runId = java.util.UUID.randomUUID()
    private def dir(kind: String) =
      s"${scratchRoot(s)}/graft_${name}_${kind}_$runId"
    val state: String = dir("state")
    val verd: String = dir("verd")
    val ckpt: String = dir("ckpt")

    /** Write the base seed `<kind>=0` before the stream starts. */
    def seed(kind: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$state/$kind=0")

    /** The newest committed version, required to be one fold per
      * arriving slice. */
    def finalVersion(folds: Int): Long = {
      val v = newestCommitted(hadoopFs(s, state), new Path(state))
      require(v.contains(folds.toLong),
        s"expected $folds folds, newest version ${v.getOrElse("none")}")
      folds.toLong
    }
  }

  /** The per-run scratch scope: `body` runs on fresh [[ChainRun]] dirs
    * under [[withStatePartitions]], and the dirs are deleted in
    * `finally` (ADVICE r10 #3) — a sink or read failure must not leave
    * them behind, or repeated failing runs grow the scratch root. The
    * body materializes its result (localCheckpoint) before it returns,
    * so the result stays valid after the deletion. */
  private def withChainRun[T](s: SparkSession, name: String)(
      body: ChainRun => T): T = {
    val run = new ChainRun(s, name)
    try withStatePartitions(s)(body(run))
    finally Seq(run.state, run.verd, run.ckpt).foreach(deletePath(s, _))
  }

  /** Drive one merge-sink flavor over the 4-file micro-batch stream and
    * read its final state. The per-batch merge jobs run under
    * [[withStatePartitions]]: streaming's AQE is off, so the 150-key
    * deltas would otherwise shuffle at full batch width. */
  private def runMergeStream(s: SparkSession, d: String,
      sink: (DataFrame, String, String) =>
        org.apache.spark.sql.streaming.DataStreamWriter[
          org.apache.spark.sql.Row],
      read: (SparkSession, String) => DataFrame): DataFrame = {
    graft.io.Tables.ensureSessionRegistered(s)
    val src = eventsSplit(s, d)
    withChainRun(s, "merge") { run =>
      val q = sink(fileStream(s, src), run.state, run.ckpt).start()
      try q.processAllAvailable() finally q.stop()
      read(s, run.state).orderBy("user_id").localCheckpoint(true)
    }
  }

  /** Oracle-gated run of the MERGE upsert sink (VERDICT r9 next #6,
    * second streaming row): events stream through
    * [[mergeUpsertSink]]'s foreachBatch version-chain merge in 4
    * micro-batches — each step full-outer-merges the batch's per-user
    * delta into the newest committed state version and writes the next
    * version — and the FINAL committed state is the result. The DuckDB
    * oracle is the whole-table aggregate, so the gate checks that 4
    * chained incremental merges land value-exactly on the batch
    * answer: the exactly-once versioning (replay reads newest v <
    * batchId, never its own output) composed across a real micro-batch
    * sequence, not a single-step spec fixture.
    *
    * Scale posture: state rewrite per batch is the flat chain's
    * O(|state|) — the bucketed sibling ([[qStreamMergeBucketed]]) is
    * the 100 TB shape; this gate runs the flat chain because its read
    * surface is one directory. */
  val qStreamMerge: graft.queries.Q = graft.queries.Q("q_stream_merge",
    """SELECT user_id, COUNT(*) AS n,
      |       CAST(COALESCE(SUM(CAST(ROUND(value*100) AS BIGINT)), 0)
      |            AS BIGINT) AS cents
      |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    runMergeStream(s, d, mergeUpsertSink(_, _, _), readMergedState)
  }

  /** [[qStreamMerge]]'s BUCKETED sibling — the 100 TB merge shape gets
    * its own oracle row: the same 4-file micro-batch stream drives
    * [[mergeUpsertSinkBucketed]] (8 hash buckets, each with its own
    * version chain; a batch rewrites ONLY the buckets its delta keys
    * hash into), and the result is [[readBucketedState]]'s union of
    * per-bucket newest committed versions. The oracle is the identical
    * whole-table aggregate, so the gate checks that per-bucket chains +
    * partial rewrites compose to the exact batch answer — O(touched)
    * rewrite cost with zero correctness discount. */
  val qStreamMergeBucketed: graft.queries.Q =
    graft.queries.Q("q_stream_merge_bucketed",
      """SELECT user_id, COUNT(*) AS n,
        |       CAST(COALESCE(SUM(CAST(ROUND(value*100) AS BIGINT)), 0)
        |            AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin) { (s, d) =>
      runMergeStream(s, d,
        mergeUpsertSinkBucketed(_, _, _, buckets = 8), readBucketedState)
    }

  /** Split metadata for the STATEFUL streaming gates: the split path,
    * the watermark delay the queries must run with (sized so no
    * displaced event is ever late — see [[statefulSplit]]), and the
    * sentinel cutoff above which rows are scaffolding, not data. */
  private[graft] final case class StatefulSplit(
      path: String, watermark: String)

  private val statefulSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, StatefulSplit]()

  /** Ordered 6-file split of the events table driving the STATEFUL
    * streaming gates ([[qStreamSessionize]] / [[qStreamConversionLag]],
    * VERDICT r10 next #1) — built once per (scratchRoot, sfDir) per JVM:
    *
    *   - files 0–3 carry every real event. An event's HOME file is its
    *     event-time quarter of the table's span; ~20 % of events
    *     (`event_id % 5 = 0`) are DISPLACED one file later, so they
    *     arrive after a later micro-batch has already advanced the
    *     per-user state past them — genuine out-of-order delivery
    *     across batch boundaries, the case interval-bridging and
    *     late-re-election state code exists for.
    *   - file 4 is one sentinel row (user_id −1, event_type
    *     "sentinel") whose far-future timestamp advances the event-time
    *     watermark past every real session/conversion deadline; file 5
    *     is a second sentinel one hour later whose batch is where those
    *     now-passed event-time timeouts FIRE (timeouts are evaluated at
    *     the start of a batch against the PREVIOUS batch's watermark),
    *     flushing every sealed state deterministically before
    *     `processAllAvailable` returns. Queries filter `user_id >= 0`.
    *
    *   - the watermark delay is a quarter of the span plus a day — at
    *     least the maximum displacement lateness, so NO real event is
    *     ever behind the watermark on arrival. That is load-bearing for
    *     the oracle gate (a dropped event would diverge from the
    *     whole-table batch SQL), so it is not left to arithmetic: the
    *     builder VERIFIES per file that `min ts ≥ max ts of all earlier
    *     files − delay` and throws otherwise. Mid-stream sealing still
    *     happens (the watermark crosses the first quarters' deadlines
    *     around batches 2–3), so the timeout path runs mid-stream too,
    *     not only at the sentinel flush.
    *
    * File-source ordering is [[writeOrderedSplit]]'s: one file per
    * slice, so `maxFilesPerTrigger=1` yields exactly this 6-batch
    * sequence. */
  private[graft] def statefulSplit(s: SparkSession,
      d: String): StatefulSplit =
    statefulSplitCache.computeIfAbsent(s"${scratchRoot(s)}|$d", _ => {
      val dir = s"${scratchRoot(s)}/graft_stateful_split_" +
        java.util.UUID.randomUUID()
      val ev = graft.io.Tables.load(s, d, "events")
        .select("user_id", "event_id", "event_type", "ts")
      val Array(minUs, maxUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .collect().head.toSeq.map(_.asInstanceOf[Long]).toArray
      val spanUs = maxUs - minUs + 1
      val delayMs = spanUs / 4 / 1000L + 86400000L
      val gapMs = 30L * 60000L
      // home quarter by event time; ~20% displaced one file later
      val quarter = least(
        floor(((unix_micros(col("ts")) - lit(minUs)) * 4L) / lit(spanUs)),
        lit(3L))
      val file = when(pmod(col("event_id"), lit(5L)) === 0,
        least(quarter + 1L, lit(3L))).otherwise(quarter)
      val slices: Seq[DataFrame] = (0L to 3L).map(k =>
        ev.filter(file === k))
      // sentinels: A advances the watermark past every real deadline
      // (session deadlines are ≤ max ts + gap); B triggers the batch in
      // which the fired timeouts flush
      val sentA = (maxUs / 1000L) + delayMs + gapMs + 2L * 3600000L
      val sentinel = (id: Long, ms: Long) => {
        import s.implicits._
        Seq((-1L, id, "sentinel", new java.sql.Timestamp(ms)))
          .toDF("user_id", "event_id", "event_type", "ts")
      }
      writeOrderedSplit(s, dir, "ev", slices ++
        Seq(sentinel(-1L, sentA), sentinel(-2L, sentA + 3600000L)))
      // authoritative no-drop check: at batch k the watermark is
      // max-ts(files < k) − delay; every file-k row must be at/above it
      val stats = s.read.parquet(dir)
        .groupBy(input_file_name().as("f"))
        .agg(min(unix_micros(col("ts"))).as("lo"),
          max(unix_micros(col("ts"))).as("hi"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1)
      // an empty slice writes a 0-row part file that simply has no stats
      // row; the sentinels guarantee at least two entries
      require(stats.length >= 2,
        s"stateful split wrote too few non-empty files: $stats")
      var hiSoFar = Long.MinValue
      stats.foreach { case (f, lo, hi) =>
        require(hiSoFar == Long.MinValue ||
          lo >= hiSoFar - (delayMs - 1000L) * 1000L,
          s"split file $f would be late: min=$lo, watermark=" +
            s"${hiSoFar - delayMs * 1000L}")
        hiSoFar = math.max(hiSoFar, hi)
      }
      StatefulSplit(dir, s"$delayMs milliseconds")
    })

  /** Oracle-gated micro-batch run of [[sessionize]] (VERDICT r10 next
    * #1 — the hardest streaming state machine gets a CORRECTNESS row):
    * the events table streams through the [[statefulSplit]]'s 6-file
    * sequence with ~20 % of events delivered out-of-order across batch
    * boundaries, the SAME flatMapGroupsWithState interval machine the
    * live pipeline uses runs in append mode, sealed sessions flush on
    * event-time timeouts (mid-stream as the watermark crosses early
    * deadlines, the rest at the sentinel flush), and the settled sink
    * is checked value-exactly against the whole-table windowed batch
    * SQL — q_sessionize's sessions minus the session_seq numbering the
    * streaming operator deliberately doesn't assign. A single dropped,
    * double-emitted, split, or mis-bridged session diverges the hash.
    *
    * Scale posture: [[sessionize]]'s — per-user state bounded by
    * intervals inside the watermark horizon; the gate's scaffolding
    * (split build, sentinels) is per-JVM scratch under
    * [[scratchRoot]]. */
  val qStreamSessionize: graft.queries.Q =
    graft.queries.Q("q_stream_sessionize",
      """WITH gaps AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
        |         OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |           IS NULL
        |         THEN 1 ELSE 0 END AS new_session
        |  FROM events),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS session_seq
        |  FROM gaps)
        |SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
        |       COUNT(*) AS n_events
        |FROM sessions GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.io.Tables.ensureSessionRegistered(s)
      val sp = statefulSplit(s, d)
      val evs = fileStream(s, sp.path)
        .select(col("user_id"), col("event_id"), col("ts")).as[Ev]
      val out = withStatePartitions(s)(runToMemorySink(
        sessionize(evs, gapMinutes = 30, watermarkDelay = sp.watermark)
          .toDF(), OutputMode.Append()))
      out.filter(col("user_id") >= 0)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events").cast("long").as("n_events"))
        .orderBy("user_id", "session_start")
    }

  /** Oracle-gated micro-batch run of [[conversionLag]] (VERDICT r10
    * next #1, second row): the same out-of-order 6-batch stream drives
    * the watermark-sealed first-view→first-purchase state machine;
    * pairs seal exactly once (mid-stream once the watermark passes the
    * purchase, or at the sentinel flush) and the settled sink must
    * equal the whole-table per-user endpoints — the from-scratch
    * two-aggregate batch semantics of q_conversion_lag, checked here
    * per user rather than at its quantile summary, which is the
    * STRONGER gate (any user's wrong pair flips the hash, not just
    * pairs that move a rank boundary). Late-re-election is genuinely
    * exercised: displaced views arrive after later purchases are
    * already in state, which is why the state holds all
    * still-electable purchase instants. `gcMinutes` is set above the
    * stream's whole horizon: the gc tombstone timeout is an
    * OPERATIONAL horizon (batch mode has no equivalent), so the gate
    * pins the pure state-machine semantics. */
  val qStreamConversionLag: graft.queries.Q =
    graft.queries.Q("q_stream_conversion_lag",
      """WITH ev AS (SELECT user_id, event_type,
        |              epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events),
        |fv AS (SELECT user_id, MIN(t) AS view_us FROM ev
        |       WHERE event_type = 'view' GROUP BY 1),
        |bu AS (SELECT ev.user_id, fv.view_us, MIN(ev.t) AS buy_us
        |       FROM ev JOIN fv ON fv.user_id = ev.user_id
        |       WHERE ev.event_type = 'purchase' AND ev.t >= fv.view_us
        |       GROUP BY 1, 2)
        |SELECT user_id, view_us, buy_us, buy_us - view_us AS lag_us
        |FROM bu ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      graft.io.Tables.ensureSessionRegistered(s)
      val sp = statefulSplit(s, d)
      val evs = fileStream(s, sp.path)
        .select(col("user_id"), col("event_type"), col("ts")).as[TypedEv]
      val out = withStatePartitions(s)(runToMemorySink(
        conversionLag(evs, watermarkDelay = sp.watermark,
          gcMinutes = 366 * 24 * 60).toDF(), OutputMode.Append()))
      out.filter(col("user_id") >= 0)
        .select("user_id", "view_us", "buy_us", "lag_us")
        .orderBy("user_id")
    }

  // ------------------------------------------------------------------
  // Streaming DEDUP INGEST: the admit→fold loop under the real runtime
  // ------------------------------------------------------------------

  /** Batch slices of the documents stream, in arrival order. Base
    * corpus = the remaining six `doc_id % 10` slices. */
  private[graft] val IngestSlices: Seq[Long] = Seq(0L, 5L, 3L, 8L)

  /** Ordered 4-file split of the documents table, one file per
    * [[IngestSlices]] slice ([[writeOrderedSplit]]). */
  private[graft] def docsSplit(s: SparkSession, d: String): String =
    orderedSplit(s, d, "docs", "docs") {
      val docs = graft.io.Tables.load(s, d, "documents")
        .select("doc_id", "text")
      IngestSlices.map(m => docs.filter(pmod(col("doc_id"), lit(10L)) === m))
    }

  /** One micro-batch's step along a SEEDED version chain under
    * `statePath` — the chain layout every ingest sink shares. The base
    * seed v=0 is written before the stream starts; batch N reads `prev`,
    * the newest committed v ≤ N ([[seededVersion]]), and overwrites its
    * own outputs `<kind>=N+1` and verdict ledger `b=N`. Exactly-once by
    * [[applyMergeBatch]]'s argument shifted by one: a replay re-reads
    * the same predecessor and never chains off its own output. Writes
    * commit with `_SUCCESS`, `v=` last, so a committed `v=N` implies
    * its sibling `q=N`/`p=N` versions are readable. No version is
    * pruned while the stream is live (every version must stay
    * replayable); the per-run dir is deleted by [[withChainRun]]. */
  private final class ChainStep(s: SparkSession, statePath: String,
      batchId: Long) {
    private val fs = hadoopFs(s, statePath)
    val prev: Long = seededVersion(fs, statePath, batchId)
    def path(kind: String): String = s"$statePath/$kind=$prev"
    def read(kind: String): DataFrame = s.read.parquet(path(kind))

    /** sizedForState (r15) by the previous version's bytes: the next
      * version derives from (and is bounded by a small multiple of) it,
      * so a KB-scale state is ONE file per version, not shuffle-width
      * splinters. The batch-proportional ledger is sized the same way
      * because the sink cannot see its micro-batch's own bytes:
      * foreachBatch hands it an RDD-backed frame whose inputFiles is
      * empty (spec-pinned). */
    def sized(df: DataFrame): DataFrame =
      sizedForState(df, fs, Seq(new Path(path("v"))))

    def write(kind: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$statePath/$kind=${batchId + 1}")

    def writeLedger(verdicts: DataFrame, verdictsPath: String): Unit =
      sized(verdicts.withColumn("batch", lit(batchId)))
        .write.mode("overwrite").parquet(s"$verdictsPath/b=$batchId")
  }

  /** One admit→fold step of the streaming ingest sink ([[ChainStep]]):
    * screen the micro-batch against the newest committed index version,
    * write the batch's verdict ledger, fold the survivors' bands into
    * the next index version. The batch's shingles and bands are
    * computed from the STREAMED text — the index's content derives from
    * what arrived, the corpus table supplies only the verify join's
    * shingle sets (which a production pipeline would keep alongside the
    * banding). */
  private[graft] def applyIngestBatch(batch: DataFrame, batchId: Long,
      statePath: String, verdictsPath: String, corpusSh: DataFrame): Unit = {
    val step = new ChainStep(batch.sparkSession, statePath, batchId)
    val bsh = graft.functions.TextHash
      .addShingleHashes(batch, col("text")).select("doc_id", "hs")
      // two consumers (bands + verify), one compute; LAZY (r14): the
      // blocks materialize inside the ledger write's job instead of a
      // dedicated per-batch barrier job
      .localCheckpoint(false)
    val bands = graft.dedup.Dedup.lshBands(bsh)
      .select("doc_id", "band", "key")
    val index = step.read("v")
    val verdicts = graft.dedup.Dedup.screenBatch(
      batch.select("doc_id"), bands, index, bsh, corpusSh)
      // consumed twice (ledger write + survivor fold); LAZY (r14): the
      // ledger write materializes the blocks, the fold reuses them
      .localCheckpoint(false)
    step.writeLedger(verdicts, verdictsPath)
    val survivors = verdicts.filter(!col("is_dup")).select("doc_id")
    step.write("v", step.sized(
      index.unionByName(bands.join(survivors, Seq("doc_id"), "left_semi"))))
  }

  /** Deliberate mid-chain crash for the restart gate ([[
    * qStreamIngestRestart]]): thrown by the ingest sink AFTER the
    * designated batch's writes are fully committed (verdict ledger +
    * index version, both with `_SUCCESS`) but BEFORE the runtime
    * records the batch in the checkpoint commit log — exactly the torn
    * state a real driver loss leaves behind, and the one the
    * version-chain argument must survive. */
  private[graft] final class InjectedCrash(msg: String)
    extends RuntimeException(msg)

  @annotation.tailrec
  private def isInjected(t: Throwable): Boolean = t match {
    case null => false
    case _: InjectedCrash => true
    case other => isInjected(other.getCause)
  }

  /** Drive one versioned-sink chain under the real micro-batch runtime
    * (shared by BOTH ingest families): one file per micro-batch from
    * `src`, `applyBatch` as the foreachBatch sink, resuming from
    * whatever `ckpt` says is next (a fresh checkpoint starts at batch
    * 0; a checkpoint whose last batch committed sink-side but not
    * runtime-side REPLAYS that batch — the exactly-once case).
    * `crashAfter`: kill the QUERY with an [[InjectedCrash]] immediately
    * after that batchId's sink writes commit, deterministically
    * producing the torn state above (no timing races — the gate
    * controls exactly where the chain is cut). */
  private[graft] def runVersionedStream(s: SparkSession, src: String,
      ckpt: String, crashAfter: Option[Long] = None)(
      applyBatch: (DataFrame, Long) => Unit): Unit = {
    val q = fileStream(s, src).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId)
        if (crashAfter.contains(batchId))
          throw new InjectedCrash(s"injected crash after batch $batchId")
      }.start()
    try q.processAllAvailable()
    catch { case t: Throwable if crashAfter.nonEmpty && isInjected(t) => () }
    finally q.stop()
  }

  /** The committed verdict ledgers `b=0 … b=<batches-1>` under `verd`
    * (each must carry its `_SUCCESS` marker), as `cols`, in
    * (batch, doc_id) order. */
  private def committedLedger(s: SparkSession, verd: String, batches: Int,
      chain: String)(cols: Column*): DataFrame = {
    val fs = hadoopFs(s, verd)
    (0 until batches).map { i =>
      val p = s"$verd/b=$i"
      require(fs.exists(new Path(p, "_SUCCESS")),
        s"$chain batch $i left no committed verdict ledger at $p")
      s.read.parquet(p)
    }.reduce(_ unionByName _)
      .select(cols: _*)
      .orderBy("batch", "doc_id").localCheckpoint(true)
  }

  /** The committed verdict ledger across all [[IngestSlices]] batches —
    * the registered result surface of the dedup ingest gates. */
  private def ingestLedger(s: SparkSession, verd: String): DataFrame =
    committedLedger(s, verd, IngestSlices.size, "ingest")(col("batch"),
      col("doc_id"), col("best_base"), col("best_jaccard"), col("is_dup"))

  /** The from-scratch N-phase admission oracle BUILDER, shared by all
    * three dedup ingest gates (uninterrupted, crash-restart, retune):
    * exactly-once means the RESULT is independent of where the runtime
    * was cut, so the first two queries must hash to the same DuckDB
    * answer. `retune = Some((after, budget))` adds the mid-chain
    * maintenance step: after phase `after`'s fold, the occupancy of the
    * FOLDED 4×4 index (base + every survivor set committed so far) is
    * measured, and IFF any band's size-biased mean occupancy Σocc²/Σocc
    * exceeds `budget`, every later phase band-joins at the 2×8 retuned
    * shape instead — the decision procedure is recomputed in SQL and
    * VALUE-GATES the conditional banding (the same discipline as the
    * autocap oracle), not just its output. */
  private def ingestOracleSqlFor(retune: Option[(Int, Double)]): String = {
    import graft.functions.TextHash.{minhashSql, shingleCteSql, Bands, K, R}
    val sigSqlCols = (0 until K)
      .map(k => s"${minhashSql("hs", k)} AS m$k").mkString(",\n       ")
    def bandSelects(bands: Int, r: Int): String = (0 until bands).map { b =>
      val key = (0 until r).map(i => s"m${b * r + i}::VARCHAR")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    val jacSql =
      """CAST(len(list_filter(sa.hs, x -> list_contains(sb.hs, x)))
        |         AS DOUBLE)
        |      / (len(sa.hs) + len(sb.hs)
        |         - len(list_filter(sa.hs, x -> list_contains(sb.hs, x))))"""
        .stripMargin
    val baseNotIn = IngestSlices.mkString("(", ", ", ")")
    // phase-k candidate eligibility: base slices + each earlier batch's
    // non-dup survivors (same generator shape as q_dedup_index_update3)
    def elig(alias: String, earlier: Seq[Int]): String =
      (s"$alias.doc_id % 10 NOT IN $baseNotIn" +:
        earlier.map { i =>
          s"($alias.doc_id % 10 = ${IngestSlices(i)} AND " +
            s"$alias.doc_id NOT IN (SELECT new_doc FROM dup$i))"
        }).mkString("(", "\n         OR ", ")")
    // the band source a phase's candidate join reads: phases after the
    // maintenance point read the DECIDED shape (bandsp), earlier ones
    // the standing 4×4
    def bandSrc(i: Int): String =
      if (retune.exists(_._1 < i)) "bandsp" else "bands"
    def retuneCtes(after: Int, budget: Double): String =
      s"""bands2 AS (
         |  ${bandSelects(2, K / 2)}),
         |fold$after AS (
         |  SELECT b.doc_id, b.band, b.key FROM bands b
         |  WHERE ${elig("b", 0 to after)}),
         |focc AS (SELECT band, key, COUNT(*) AS occ FROM fold$after
         |         GROUP BY 1, 2),
         |fst AS (SELECT band, SUM(occ) AS tot, SUM(occ * occ) AS ss
         |        FROM focc GROUP BY 1),
         |fdec AS (SELECT COALESCE(MAX(CASE WHEN CAST(ss AS DOUBLE) / tot
         |                > $budget THEN 1 ELSE 0 END), 0) = 1 AS fired
         |         FROM fst),
         |bandsp AS (
         |  SELECT doc_id, band, key FROM bands2
         |  WHERE (SELECT fired FROM fdec)
         |  UNION ALL
         |  SELECT doc_id, band, key FROM bands
         |  WHERE NOT (SELECT fired FROM fdec))"""
    def phaseCtes(i: Int): String =
      s"""cand$i AS (
         |  SELECT DISTINCT n.doc_id AS new_doc, o.doc_id AS base_doc
         |  FROM ${bandSrc(i)} n JOIN ${bandSrc(i)} o
         |    ON n.band = o.band AND n.key = o.key
         |  WHERE n.doc_id % 10 = ${IngestSlices(i)}
         |    AND ${elig("o", 0 until i)}),
         |hits$i AS (
         |  SELECT c.new_doc, c.base_doc,
         |    $jacSql
         |      AS jaccard
         |  FROM cand$i c
         |  JOIN sh sa ON sa.doc_id = c.new_doc
         |  JOIN sh sb ON sb.doc_id = c.base_doc),
         |h8_$i AS (SELECT * FROM hits$i WHERE jaccard >= 0.8),
         |best$i AS (SELECT new_doc, MAX(jaccard) AS best_jaccard
         |           FROM h8_$i GROUP BY 1),
         |pick$i AS (SELECT h.new_doc, b.best_jaccard,
         |                  MIN(h.base_doc) AS best_base
         |           FROM h8_$i h JOIN best$i b
         |             ON b.new_doc = h.new_doc
         |            AND h.jaccard = b.best_jaccard
         |           GROUP BY 1, 2),
         |dup$i AS (SELECT new_doc FROM pick$i)"""
    def phaseSelect(i: Int): String =
      s"""SELECT CAST($i AS BIGINT) AS batch, d.doc_id, p.best_base,
         |       p.best_jaccard, p.best_jaccard IS NOT NULL AS is_dup
         |FROM documents d
         |LEFT JOIN pick$i p ON p.new_doc = d.doc_id
         |WHERE d.doc_id % 10 = ${IngestSlices(i)}"""
    // the maintenance CTEs slot in right after the phase whose fold they
    // measure (they read that phase's dup set), before the first
    // post-swap phase
    val phaseBlocks = IngestSlices.indices.flatMap { i =>
      (retune.toSeq.collect { case (after, budget) if i == after + 1 =>
        retuneCtes(after, budget)
      }) :+ phaseCtes(i)
    }
    s"""WITH $shingleCteSql,
       |sig AS (SELECT doc_id, hs,
       |       $sigSqlCols
       |FROM sh),
       |bands AS (
       |  ${bandSelects(Bands, R)}),
       |${phaseBlocks.mkString(",\n")}
       |${IngestSlices.indices.map(phaseSelect)
         .mkString("", "\nUNION ALL\n", "")}
       |ORDER BY batch, doc_id""".stripMargin
  }

  /** The shared no-maintenance oracle (uninterrupted + crash-restart). */
  private val ingestOracleSql: String = ingestOracleSqlFor(None)

  /** The base-corpus banding seed (everything outside the arriving
    * slices) shared by both ingest gates. */
  private def ingestBaseIndex(s: SparkSession, d: String): DataFrame =
    graft.dedup.Dedup.corpusBands(s, d)
      .filter(!IngestSlices.map(m =>
        pmod(col("doc_id"), lit(10L)) === m).reduce(_ || _))

  /** Streaming CONTINUOUS-INGEST dedup — the [[qDedupIndexUpdate3]]
    * admit→fold chain graduated from driver-sequenced batch code to the
    * actual micro-batch runtime: the four batch slices of the documents
    * table arrive as a real `readStream` file stream (one slice per
    * micro-batch, in order), each batch's [[applyIngestBatch]] screens
    * it against the newest committed banding version and folds its
    * survivors in, and the registered result is the full verdict LEDGER
    * across all four batches. The DuckDB oracle recomputes the
    * four-phase admission from scratch (phase-k eligibility = base +
    * every earlier batch's non-dup survivors), so one dropped,
    * duplicated, re-ordered, or mis-chained fold anywhere in the
    * version chain diverges the hash — this is the gate that the
    * CONTINUOUS path equals the from-scratch semantics under the real
    * streaming engine, exactly-once versioning included.
    *
    * Scale posture: per batch, one directional [[graft.dedup.Dedup
    * .screenBatch]] probe (|batch| × bucket-occupancy candidates) plus
    * an append-shaped union write; state grows by survivors' bands
    * only. The per-run scratch is [[withChainRun]]'s. */
  val qStreamDedupIngest: graft.queries.Q =
    graft.queries.Q("q_stream_dedup_ingest", ingestOracleSql) { (s, d) =>
      graft.io.Tables.ensureSessionRegistered(s)
      val src = docsSplit(s, d)
      val corpusSh = graft.dedup.Dedup.corpusShingles(s, d)
      withChainRun(s, "ingest") { run =>
        run.seed("v", ingestBaseIndex(s, d))
        runVersionedStream(s, src, run.ckpt)(
          applyIngestBatch(_, _, run.state, run.verd, corpusSh))
        ingestLedger(s, run.verd)
      }
    }

  /** CRASH-RESTART exactly-once, demonstrated under the real runtime
    * (VERDICT r11 missing #1 / next #1): the ingest chain is KILLED
    * mid-chain — deterministically, via [[InjectedCrash]] thrown right
    * after batch 1's sink writes commit but before its checkpoint
    * commit-log entry — and a FRESH StreamingQuery is started from the
    * SAME checkpoint + state + ledger directories. The runtime replays
    * batch 1 (offsets logged, commit missing — the at-least-once
    * delivery the sink must absorb); the version chain makes the replay
    * idempotent (batch N reads the newest committed v ≤ N, so the
    * replay chains off v=1, never its own v=2 output, and overwrites
    * v=2 and `b=1` with identical content); batches 2 and 3 then run
    * once. The registered result is the final 4-batch ledger, gated by
    * the SAME from-scratch oracle as the uninterrupted gate — the
    * exactly-once claim IS that the cut is invisible in the result.
    * Before restarting, the gate `require`s the torn state it claims to
    * recover from: batch 1's ledger committed sink-side, batch 1 ABSENT
    * from the checkpoint commit log, and the tail batches not yet run
    * (`StreamOpsSpec` additionally pins ledger + final index version
    * row-identity against an uninterrupted twin run). */
  val qStreamIngestRestart: graft.queries.Q =
    graft.queries.Q("q_stream_ingest_restart", ingestOracleSql) { (s, d) =>
      graft.io.Tables.ensureSessionRegistered(s)
      val src = docsSplit(s, d)
      val corpusSh = graft.dedup.Dedup.corpusShingles(s, d)
      withChainRun(s, "restart") { run =>
        run.seed("v", ingestBaseIndex(s, d))
        def drive(crashAfter: Option[Long]): Unit =
          runVersionedStream(s, src, run.ckpt, crashAfter)(
            applyIngestBatch(_, _, run.state, run.verd, corpusSh))
        // leg 1: the chain dies right after batch 1 lands sink-side
        drive(Some(1L))
        val fs = hadoopFs(s, run.verd)
        require(fs.exists(new Path(s"${run.verd}/b=1/_SUCCESS")),
          "crash must land AFTER batch 1's sink commit")
        require(!fs.exists(new Path(s"${run.verd}/b=${IngestSlices.size - 1}")),
          "crash must land mid-chain, before the tail batches")
        require(!hadoopFs(s, run.ckpt).exists(
            new Path(s"${run.ckpt}/commits/1")),
          "batch 1 must be checkpoint-UNcommitted at the cut " +
            "(sink-committed only) — the torn state under test")
        // leg 2: a fresh query from the same checkpoint replays batch 1
        // and finishes the chain
        drive(None)
        ingestLedger(s, run.verd)
      }
    }

  /** Maintenance budget for the LIVE-STREAM retune gate: the size-biased
    * mean bucket occupancy Σocc²/Σocc a band may reach before the
    * between-batches maintenance check re-bands the index. The gate's
    * default (1.0) is the strictest SLO — any co-located signature pair
    * anywhere flags the move — chosen so the documents corpus's own
    * statistics (it HAS near-dups, so some 4×4 bucket holds ≥ 2 docs)
    * demand the swap and the gate exercises the full
    * decision→swap→post-swap-screen path; the DECISION itself is still
    * computed from the folded index in both engines, and
    * `StreamOpsSpec` drives the opposite branch (budget high → no swap)
    * to pin that the flag, not the schedule, is what acts. */
  val StreamOccBudget: Double = 1.0

  /** The micro-batch after whose fold the in-stream maintenance check
    * runs (the swap, if flagged, lands in that batch's output version —
    * see [[applyRetuneIngestBatch]] for why it must). */
  private[graft] val RetuneAfterBatch = 1L

  /** One admit→fold→MAINTAIN step of the retune-aware ingest sink: the
    * [[applyIngestBatch]] contract plus two production concerns. (1)
    * Index versions carry their banding SHAPE — a constant `nb` column
    * (bands; rows per band = K/nb) — because after a retune the arriving
    * batch must probe with bands projected at the INDEX's shape, not a
    * compile-time constant; the probe reads `nb` from the version it
    * screens against (1-row read of an RLE'd constant column). (2) On
    * the maintenance batch, after the fold, the occupancy monitor runs
    * over the folded index and [[graft.dedup.Dedup.retuneIfNeeded]]
    * re-bands the accumulated state at 2×8 IFF any band is over
    * `budget` — and the swapped index is what gets written as the
    * batch's output version. The swap MUST live inside the batch's own
    * version write (not a separate later version): batch N's replay
    * after a crash re-reads v ≤ N and re-derives v=N+1 from scratch, so
    * anything the maintenance did must be a deterministic function of
    * the same inputs — fold, monitor, decision, re-band all recompute
    * identically on replay, which is exactly how the crash-restart leg
    * stays exactly-once THROUGH the swap (spec-pinned). Re-banding
    * needs signatures, not just the standing band rows; the roster of
    * admitted docs is the index's distinct doc_ids and `corpusSh`
    * supplies their shingle sets (the signature store a production
    * pipeline keeps alongside the banding). */
  private[graft] def applyRetuneIngestBatch(batch: DataFrame, batchId: Long,
      statePath: String, verdictsPath: String, corpusSh: DataFrame,
      maintainAfter: Long = RetuneAfterBatch,
      budget: Double = StreamOccBudget): Unit = {
    val step = new ChainStep(batch.sparkSession, statePath, batchId)
    val K = graft.functions.TextHash.K
    val bsh = graft.functions.TextHash
      .addShingleHashes(batch, col("text")).select("doc_id", "hs")
      // two consumers (bands + verify), one compute; LAZY (r14): the
      // blocks materialize inside the ledger write's job instead of a
      // dedicated per-batch barrier job
      .localCheckpoint(false)
    val index = step.read("v")
    val nb = index.select("nb").head().getInt(0)
    val bands = graft.dedup.Dedup.lshBandsWith(bsh, nb, K / nb)
      .select("doc_id", "band", "key")
    val verdicts = graft.dedup.Dedup.screenBatch(
      batch.select("doc_id"), bands,
      index.select("doc_id", "band", "key"), bsh, corpusSh)
      // consumed twice (ledger write + survivor fold); LAZY (r14): the
      // ledger write materializes the blocks, the fold reuses them
      .localCheckpoint(false)
    step.writeLedger(verdicts, verdictsPath)
    val survivors = verdicts.filter(!col("is_dup")).select("doc_id")
    val foldedRaw = index.select("doc_id", "band", "key")
      .unionByName(bands.join(survivors, Seq("doc_id"), "left_semi"))
    val maintain = batchId == maintainAfter
    // on the maintenance batch the fold feeds three consumers (monitor,
    // roster, possibly the version write) — materialize once
    val folded =
      if (maintain) foldedRaw.localCheckpoint(true) else foldedRaw
    val next =
      if (maintain) {
        val roster = folded.select("doc_id").distinct()
        val (retuned, fired) = graft.dedup.Dedup.retuneIfNeeded(
          corpusSh.join(roster, Seq("doc_id"), "left_semi"),
          folded, bands = 2, r = K / 2, budget = budget)
        if (fired) retuned.withColumn("nb", lit(2))
        else folded.withColumn("nb", lit(nb))
      } else folded.withColumn("nb", lit(nb))
    step.write("v", step.sized(next))
  }

  /** The occupancy-triggered retune UNDER the live stream (VERDICT r12
    * missing #1 / next #2) — the last composition a production ingest
    * pipeline runs, assembled from parts that were each already gated:
    * the four document slices arrive as real micro-batches; after batch
    * 1's fold the occupancy monitor measures the folded index, flags it
    * over [[StreamOccBudget]], and [[graft.dedup.Dedup.retuneIfNeeded]]
    * re-bands the accumulated state at 2×8; the version chain carries
    * the SWAP (v=2 is the retuned index, `nb`=2); batches 2 and 3 then
    * probe AND fold at the retuned shape. The registered result is the
    * full 4-batch verdict ledger, and the DuckDB oracle recomputes the
    * phased admission WITH the mid-chain shape change from scratch —
    * including the decision (fold occupancy → Σocc²/Σocc > budget →
    * conditional band source), so a chain that swapped on the wrong
    * batch, kept probing 4×4, re-banded the wrong roster, or fired
    * against the wrong statistics all hash-mismatch.
    * `StreamOpsSpec` additionally crash-kills the chain ON the swap
    * batch (sink-committed retuned v=2, checkpoint-uncommitted) and
    * post-swap, and pins both recoveries ledger- and index-identical
    * to the uninterrupted run — exactly-once THROUGH the swap. */
  val qStreamRetuneIngest: graft.queries.Q =
    graft.queries.Q("q_stream_retune_ingest",
      ingestOracleSqlFor(Some((RetuneAfterBatch.toInt, StreamOccBudget)))) {
      (s, d) =>
        graft.io.Tables.ensureSessionRegistered(s)
        val src = docsSplit(s, d)
        val corpusSh = graft.dedup.Dedup.corpusShingles(s, d)
        withChainRun(s, "retune") { run =>
          run.seed("v", ingestBaseIndex(s, d)
            .withColumn("nb", lit(graft.functions.TextHash.Bands)))
          runVersionedStream(s, src, run.ckpt)(applyRetuneIngestBatch(
            _, _, run.state, run.verd, corpusSh))
          ingestLedger(s, run.verd)
        }
    }

  // ------------------------------------------------------------------
  // Streaming ANN INGEST: the IVF fold under the real runtime
  // ------------------------------------------------------------------

  /** Batch mod-10 slices of the embeddings stream, in arrival order
    * (the same two slices the batch-mode N-fold gate chains). */
  private[graft] val AnnIngestSlices: Seq[Int] = Seq(7, 3)

  /** Ordered 2-file split of the embeddings BATCH slices (base vectors
    * never stream — they are the seeded index), one file per
    * [[AnnIngestSlices]] slice ([[writeOrderedSplit]]). */
  private[graft] def embSplit(s: SparkSession, d: String): String =
    orderedSplit(s, d, "emb", "emb") {
      val vecs = graft.io.Tables.load(s, d, "embeddings")
        .select("vec_id", "embedding")
      AnnIngestSlices.map(m =>
        vecs.filter(graft.similarity.Similarity.ivfBatchPredicate(s, m)))
    }

  /** One IVF fold step of the streaming ANN ingest sink: assign the
    * streamed micro-batch against the FIXED coarse quantizer and union
    * its cell rows into the next index version, along the seeded
    * version chain ([[ChainStep]]; base cells at v=0). */
  private[graft] def applyAnnIngestBatch(batch: DataFrame, batchId: Long,
      statePath: String, anchors: DataFrame): Unit = {
    val step = new ChainStep(batch.sparkSession, statePath, batchId)
    val cells = graft.similarity.Similarity.assignCellsOf(batch, anchors)
    step.write("v", step.sized(step.read("v").unionByName(cells)))
  }

  /** Streaming CONTINUOUS-INGEST for the IVF index — the embedding-side
    * sibling of [[qStreamDedupIngest]], and the streaming graduation of
    * [[graft.similarity.Similarity]]'s batch-mode N-fold gate
    * (q_ann_index_update3): the two batch slices arrive as a real
    * 2-file micro-batch stream, each batch's vectors are assigned
    * against the fixed coarse quantizer FROM THE STREAMED embeddings
    * and folded into a seeded version-chain index (base cells at v=0),
    * and the fixed query set serves top-3 through the family-shared
    * serve against the final committed version. The oracle is
    * EXPRESSION-IDENTICAL to q_ann_index_update3's (the from-scratch
    * whole-corpus assignment): with anchors fixed, assignment is
    * batching-invariant, so the stream must land value-exactly on the
    * batch-mode answer — what the gate adds is the runtime (micro-batch
    * delivery, exactly-once versioning, parquet round-trip of the
    * folded state).
    *
    * Scale posture: per batch, |batch| × Cells broadcast-NLJ assignment
    * (the constant-width append cost) plus an append-shaped union
    * write; per-run scratch is [[withChainRun]]'s. */
  val qStreamAnnIngest: graft.queries.Q = graft.queries.Q(
    "q_stream_ann_ingest",
    graft.similarity.Similarity.qAnnIndexUpdate3.oracle.getOrElse(
      sys.error("q_ann_index_update3 lost its oracle"))) { (s, d) =>
    graft.io.Tables.ensureSessionRegistered(s)
    val sim = graft.similarity.Similarity
    val src = embSplit(s, d)
    val anchors = sim.ivfAnchors(s, d).localCheckpoint(true)
    withChainRun(s, "annidx") { run =>
      run.seed("v", sim.ivfBaseCells(s, d, AnnIngestSlices))
      runVersionedStream(s, src, run.ckpt)(
        applyAnnIngestBatch(_, _, run.state, anchors))
      val finalV = run.finalVersion(AnnIngestSlices.size)
      sim.ivfServe(s, d, s.read.parquet(s"${run.state}/v=$finalV"))
        .withColumn("is_new1", sim.ivfIsNewCol(AnnIngestSlices.head))
        .withColumn("is_new2", sim.ivfIsNewCol(AnnIngestSlices(1)))
        .orderBy("query_id", "rnk").localCheckpoint(true)
    }
  }

  // ------------------------------------------------------------------
  // Streaming ANN RETRAIN: the decision-gated quantizer rebuild under
  // the real runtime (the ANN symmetric half of q_stream_retune_ingest)
  // ------------------------------------------------------------------

  /** Imbalance budget for the LIVE-STREAM retrain gate — the ANN twin
    * of [[StreamOccBudget]]: max_cell / (n/cells) a folded assignment
    * may reach before the between-batches maintenance check retrains
    * the quantizer. Default 1.0 = the strictest SLO (any imbalance at
    * all flags the move — the seed quantizer's round-0 cells on this
    * corpus are far from uniform, so the corpus's own statistics demand
    * the retrain); `StreamOpsSpec` drives the opposite branch. */
  val StreamCellBudget: Double = 1.0

  /** The micro-batch after whose fold the ANN maintenance check runs. */
  private[graft] val RetrainAfterBatch = 0L

  private type Quant = Seq[(Long, Seq[Long])]

  private def readQuant(s: SparkSession, path: String): Quant =
    s.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)

  /** The 1-row width version `p=N` of the calibrated chain. */
  private def readWidth(s: SparkSession, path: String): Int =
    s.read.parquet(path).head().getLong(0).toInt

  /** One version of the quantizer-world ANN state: the cell assignment
    * WITH the int8 codes (`v=N`: vec_id, c, cl — codes ride along so a
    * rebuild can re-train from state alone), the quantizer that produced
    * it (`q=N`: cl, m) and, on the calibrated chain, the probe width
    * (`p=N`, one row). */
  private final case class AnnState(cells: DataFrame, quant: Quant,
      width: Option[Int])

  /** Write `st` as the chain's base seed (q=0, p=0, then v=0). */
  private def seedAnn(run: ChainRun, st: AnnState): Unit = {
    val s = st.cells.sparkSession
    import s.implicits._
    run.seed("q", st.quant.toDF("cl", "m"))
    st.width.foreach(w => run.seed("p", Seq(w.toLong).toDF("w")))
    run.seed("v", st.cells)
  }

  /** The chain's final committed state, one fold per arriving slice. */
  private def finalAnnState(s: SparkSession, run: ChainRun,
      withWidth: Boolean): AnnState = {
    val v = run.finalVersion(AnnIngestSlices.size)
    AnnState(s.read.parquet(s"${run.state}/v=$v"),
      readQuant(s, s"${run.state}/q=$v"),
      if (withWidth) Some(readWidth(s, s"${run.state}/p=$v")) else None)
  }

  /** The fold→MAINTAIN step shared by the three ANN maintenance chains
    * ([[ChainStep]] layout): read the newest committed state, code the
    * arriving batch (per-vector max-abs scale ⇒ batching-invariant),
    * `assign` it against that state's quantizer and fold it in; on the
    * maintenance batch, `maintain` decides whether the folded state is
    * rebuilt. The rebuild lives inside the batch's own version write —
    * `q=` (and `p=`) FIRST, `v=` last, so a committed `v=N` implies its
    * quantizer (and width) are readable — and a crash replay re-derives
    * fold→decision→rebuild from the same inputs (integer Lloyd, no
    * float reduction order). The chains differ only in `maintain`. */
  private def annMaintainStep(batch: DataFrame, batchId: Long,
      statePath: String, maintainAfter: Long, withWidth: Boolean,
      assign: (DataFrame, Quant) => DataFrame)(
      maintain: AnnState => AnnState): Unit = {
    val s = batch.sparkSession
    val sim = graft.similarity.Similarity
    val step = new ChainStep(s, statePath, batchId)
    val quant = readQuant(s, step.path("q"))
    val width =
      if (withWidth) Some(readWidth(s, step.path("p"))) else None
    val bcodes = sim.int8CodesOf(
      batch.select(col("vec_id"), col("embedding").cast("array<double>")
        .as("v")))
    val folded = step.read("v").select("vec_id", "c", "cl")
      .unionByName(assign(bcodes, quant).select("vec_id", "c", "cl"))
      .localCheckpoint(true) // decision + (maybe) rebuild + write
    val st = AnnState(folded, quant, width)
    val out = if (batchId == maintainAfter) maintain(st) else st
    import s.implicits._
    step.write("q",
      sizedByRows(out.quant.toDF("cl", "m"), out.quant.size.toLong))
    out.width.foreach(w =>
      step.write("p", sizedByRows(Seq(w.toLong).toDF("w"), 1L)))
    step.write("v", step.sized(out.cells))
  }

  /** One fold→MAINTAIN step of the retrain-aware ANN ingest sink
    * ([[annMaintainStep]]): on the maintenance batch, the cell-balance
    * monitor measures the folded assignment and IFF imbalance exceeds
    * `budget` the quantizer RETRAINS — 3 Lloyd rounds over the
    * accumulated codes (seed = codes of the accumulated set's 8
    * smallest vec_ids, [[graft.similarity.Similarity.lloydSeed]]) — and
    * the whole accumulated state is re-assigned; later batches assign
    * against the retrained centroids they read from the version chain. */
  private[graft] def applyAnnRetrainBatch(batch: DataFrame, batchId: Long,
      statePath: String, maintainAfter: Long = RetrainAfterBatch,
      budget: Double = StreamCellBudget): Unit = {
    val sim = graft.similarity.Similarity
    annMaintainStep(batch, batchId, statePath, maintainAfter,
        withWidth = false, sim.lloydAssign) { st =>
      val fired = sim.cellStats(st.cells.select(col("cl").as("cell")),
          "fold", budget)
        .head().getBoolean(7)
      if (!fired) st
      else {
        val codes = st.cells.select("vec_id", "c")
        val cents = sim.lloydCentroids(codes, sim.LloydK, rounds = 3)
        st.copy(cells = sim.lloydAssign(codes, cents)
          .select("vec_id", "c", "cl"), quant = cents)
      }
    }
  }

  /** Two-update (3-round) integer-Lloyd CTE chain over training CTE
    * `ct` seeded from CTE `seed` (cl, m): emits a1/s1/cent1/a2/s2/cent2
    * — [[graft.similarity.Similarity.qAnnLifecycle]]'s unrolled
    * spelling, factored so the two maintenance-chain oracles below
    * (value-gated retrain, derived-k resize) cannot drift from it. */
  private def lloydRoundsSql(ct: String, seed: String): String =
    s"""a1 AS (SELECT vec_id, cl, c, d2,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl)
       |           AS rn
       |       FROM (SELECT $ct.vec_id, $seed.cl, $ct.c,
       |               list_sum(list_transform(range(1, 65),
       |                 i -> ($ct.c[i] - $seed.m[i])
       |                      * ($ct.c[i] - $seed.m[i]))) AS d2
       |             FROM $ct CROSS JOIN $seed)),
       |s1 AS (SELECT vec_id, cl, c FROM a1 WHERE rn = 1),
       |cent1 AS (SELECT cl,
       |            list_transform(range(1, 65),
       |              i -> CAST(floor(CAST(list_sum(list_transform(list(c),
       |                   cc -> cc[i])) AS DOUBLE) / COUNT(*)) AS BIGINT))
       |              AS m
       |          FROM s1 GROUP BY cl),
       |a2 AS (SELECT vec_id, cl, c, d2,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl)
       |           AS rn
       |       FROM (SELECT $ct.vec_id, cent1.cl, $ct.c,
       |               list_sum(list_transform(range(1, 65),
       |                 i -> ($ct.c[i] - cent1.m[i])
       |                      * ($ct.c[i] - cent1.m[i]))) AS d2
       |             FROM $ct CROSS JOIN cent1)),
       |s2 AS (SELECT vec_id, cl, c FROM a2 WHERE rn = 1),
       |cent2 AS (SELECT cl,
       |            list_transform(range(1, 65),
       |              i -> CAST(floor(CAST(list_sum(list_transform(list(c),
       |                   cc -> cc[i])) AS DOUBLE) / COUNT(*)) AS BIGINT))
       |              AS m
       |          FROM s2 GROUP BY cl)""".stripMargin

  /** The final-assignment + top-3 serve CTE tail over centroid CTE
    * `centF`: every vector re-ranks against the final quantizer, cells
    * = rn 1, the query set probes its best [[graft.similarity
    * .Similarity.LloydProbe]] cells, float-cosine scoring, top-3. */
  private def lloydServeSql(centF: String,
      probeSql: String = graft.similarity.Similarity.LloydProbe.toString)
      : String = {
    val sim = graft.similarity.Similarity
    s"""a3 AS (SELECT vec_id, cl, d2,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl)
       |           AS rn
       |       FROM (SELECT c.vec_id, $centF.cl,
       |               list_sum(list_transform(range(1, 65),
       |                 i -> (c.c[i] - $centF.m[i])
       |                      * (c.c[i] - $centF.m[i]))) AS d2
       |             FROM c CROSS JOIN $centF)),
       |cells AS (SELECT a3.vec_id, a3.cl, n.v, n.nrm
       |          FROM a3 JOIN n ON n.vec_id = a3.vec_id WHERE a3.rn = 1),
       |probes AS (SELECT vec_id AS query_id, cl FROM a3
       |           WHERE rn <= $probeSql AND ${sim.QuerySet}),
       |scored AS (SELECT p.query_id, b.vec_id AS neighbor_id,
       |    list_dot_product(q.v, b.v) / (q.nrm * b.nrm) AS cos
       |  FROM probes p
       |  JOIN n q ON q.vec_id = p.query_id
       |  JOIN cells b ON b.cl = p.cl AND b.vec_id != p.query_id),
       |ranked2 AS (SELECT query_id, neighbor_id, cos,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       |  FROM scored)""".stripMargin
  }

  /** The embeddings→int8-codes CTE prefix shared by both maintenance
    * oracles (the [[graft.similarity.Similarity.qAnnLifecycle]]
    * quantization spelling). */
  private val annCodesCteSql: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
      |m AS (SELECT vec_id, v,
      |        list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
      |c AS (SELECT vec_id,
      |        list_transform(v, x -> CAST(floor(x * 127 / mx) AS BIGINT))
      |          AS c
      |      FROM m)""".stripMargin

  private def isNewSql: String = {
    val sim = graft.similarity.Similarity
    s"(neighbor_id % 10 = ${sim.AnnNewSlice} AND neighbor_id >= 10 AND " +
      s"NOT (neighbor_id >= ${sim.IvfAnchorBase} AND neighbor_id < " +
      s"${sim.IvfAnchorBase + sim.IvfCells}))"
  }

  /** VALUE-GATED from-scratch oracle for [[qStreamRetrainIngest]]
    * (ADVICE r13): unlike the previously shared q_ann_lifecycle oracle
    * — which unconditionally assumed the retrain fired — this one
    * recomputes the cell-balance DECISION in SQL (the folded prefix
    * assignment under the seed quantizer is exactly `s1`; imbalance =
    * max_cell × n_cells > budget × n_vecs) and serves from the trained
    * centroids IFF it fired, the seed otherwise. At the default budget
    * (1.0, fires on this corpus) the fired branch reduces to the
    * lifecycle oracle's values verbatim, so the gate keeps its original
    * strength; at budgets that do NOT fire the gate now tracks the
    * engine's no-retrain branch instead of spuriously mismatching. */
  private def annRetrainOracleSql(budget: Double): String = {
    val sim = graft.similarity.Similarity
    s"""WITH $annCodesCteSql,
       |ct AS (SELECT vec_id, c FROM c
       |       WHERE NOT (${sim.ivfBatchSql(sim.AnnNewSlice)})),
       |cent0 AS (SELECT vec_id AS cl, c AS m FROM ct WHERE vec_id < 8),
       |${lloydRoundsSql("ct", "cent0")},
       |g AS (SELECT cl, COUNT(*) AS nn FROM s1 GROUP BY cl),
       |dec AS (SELECT CAST(MAX(nn) * COUNT(*) AS DOUBLE)
       |               > $budget * SUM(nn) AS fired FROM g),
       |centF AS (SELECT cl, m FROM cent2 WHERE (SELECT fired FROM dec)
       |          UNION ALL
       |          SELECT cl, m FROM cent0
       |          WHERE NOT (SELECT fired FROM dec)),
       |${lloydServeSql("centF")}
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos_sim,
       |       $isNewSql AS is_new
       |FROM ranked2 WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  /** The cell-balance-triggered RETRAIN under the live stream — the ANN
    * symmetric half of [[qStreamRetuneIngest]], and the streaming
    * graduation of [[graft.similarity.Similarity.qAnnLifecycle]]'s
    * batch-mode chronology: base vectors seed v=0 assigned under the
    * round-0 seed quantizer; batch 7 arrives as a real micro-batch and
    * folds; the monitor measures the folded assignment, flags it over
    * [[StreamCellBudget]], and the quantizer retrains on base+batch-7 —
    * the data that EXISTS at retrain time — with the version chain
    * carrying centroids and re-assignment; batch 3 then arrives and
    * assigns against a quantizer that never saw it. The registered
    * result is the final top-3 serve off the STREAMED state, and the
    * oracle is EXPRESSION-IDENTICAL to q_ann_lifecycle's from-scratch
    * prefix-trained spelling — exactly-once plus a correctly-fired,
    * correctly-ordered retrain means the stream must land value-exactly
    * on the batch-mode lifecycle answer (the [[qStreamAnnIngest]] ≡
    * q_ann_index_update3 discipline, one maintenance level up). A
    * chain that retrained on the wrong prefix, skipped the retrain,
    * re-assigned against stale centroids, or let the replay fork the
    * chain all hash-mismatch. `StreamOpsSpec` crash-kills the chain ON
    * the retrain batch (retrained v=1 + q=1 sink-committed,
    * checkpoint-uncommitted) and pins the recovery state-identical,
    * plus the under-budget branch (no retrain → a different serve).
    *
    * The oracle is [[annRetrainOracleSql]] (ADVICE r13): the
    * cell-balance decision is recomputed IN SQL and the serve branches
    * on it, so the gate tracks the decision at any budget; at the
    * default (fires on this corpus) its values are exactly
    * q_ann_lifecycle's, preserving the original stream ≡ batch-mode
    * equivalence. */
  val qStreamRetrainIngest: graft.queries.Q =
    graft.queries.Q("q_stream_retrain_ingest",
      annRetrainOracleSql(StreamCellBudget)) { (s, d) =>
      graft.io.Tables.ensureSessionRegistered(s)
      val sim = graft.similarity.Similarity
      val src = embSplit(s, d)
      withChainRun(s, "retrain") { run =>
        val baseCodes = sim.annRetrainBaseCodes(s, d, AnnIngestSlices)
          .localCheckpoint(true) // seed quantizer + seed assignment
        val seed = sim.lloydSeed(baseCodes, sim.LloydK)
        seedAnn(run, AnnState(sim.lloydAssign(baseCodes, seed)
          .select("vec_id", "c", "cl"), seed, None))
        runVersionedStream(s, src, run.ckpt)(
          applyAnnRetrainBatch(_, _, run.state))
        val fin = finalAnnState(s, run, withWidth = false)
        sim.annRetrainServe(s, d, fin.cells, fin.quant)
          .orderBy("query_id", "rnk").localCheckpoint(true)
      }
    }

  // ------------------------------------------------------------------
  // Streaming ANN RESIZE: the derived-k quantizer rebuild under the
  // real runtime — the chain that CONSUMES q_ann_cells_update's `grew`
  // signal (VERDICT r13 next #2)
  // ------------------------------------------------------------------

  /** Occupancy target for the STREAMING resize chain's derived
    * quantizer size (k = ⌈n_vecs/occ⌉, [[graft.similarity.Similarity
    * .derivedCellsFor]]): its own constant, not `IvfTargetOcc`,
    * because the chain's gate needs the boundary crossing to land
    * MID-CHAIN on the gated corpora — at 64, the sf0.01 chain grows
    * k 7→8 on the batch-7 fold (404→452 vecs) and sf0.1 grows 26→29
    * (1604→1802), so the decision→action wiring is exercised at both
    * scales with genuinely different derived sizes. */
  val StreamTargetOcc: Int = 64

  /** The micro-batch after whose fold the SIZE check consumes the
    * derivation (the scheduled maintenance slot — the family's
    * [[RetrainAfterBatch]] discipline). */
  private[graft] val ResizeAfterBatch = 0L

  /** One fold→RESIZE step of the size-aware ANN ingest sink — the
    * [[annMaintainStep]] of [[applyAnnRetrainBatch]] with the
    * maintenance decision changed from cell BALANCE at fixed k to SIZE
    * at derived k ([[annResized]]). The current size needs no
    * side-channel: it IS the row count of the newest committed `q`
    * version, so a crash replay re-derives count→k→grew→retrain from the
    * same inputs. */
  private[graft] def applyAnnResizeBatch(batch: DataFrame, batchId: Long,
      statePath: String, maintainAfter: Long = ResizeAfterBatch,
      occ: Int = StreamTargetOcc): Unit =
    annMaintainStep(batch, batchId, statePath, maintainAfter,
        withWidth = false, graft.similarity.Similarity.lloydAssignScaled) {
      st => annResized(st, occ).fold(st) { case (cells, cents) =>
        st.copy(cells = cells, quant = cents)
      }
    }

  /** The derived-k SIZE decision: after the fold, k_next = ⌈n_folded/occ⌉
    * is re-derived from the folded state's own count (the
    * `q_ann_cells_update` arithmetic, consumed instead of merely
    * reported), and IFF it exceeds the current quantizer's size — the
    * `grew` flag — the quantizer RETRAINS at k_next (3 integer-Lloyd
    * rounds over the accumulated codes, seed = the folded set's k_next
    * smallest vec_ids) and the whole accumulated state re-assigns:
    * the re-assigned cells and the new centroids, or None. */
  private def annResized(st: AnnState, occ: Int): Option[(DataFrame, Quant)] = {
    val sim = graft.similarity.Similarity
    val kNext = sim.derivedCellsFor(st.cells.count(), occ)
    if (kNext <= st.quant.size) None
    else {
      val codes = st.cells.select("vec_id", "c")
      val cents = sim.lloydCentroidsSeeded(codes,
        sim.lloydSeedN(codes, kNext), rounds = 3)
      Some((sim.lloydAssignScaled(codes, cents)
        .select("vec_id", "c", "cl"), cents))
    }
  }

  /** From-scratch VALUE-GATED oracle for [[qStreamResizeIngest]]: both
    * derived sizes are recomputed from the slice counts (the
    * q_ann_cells_update integer arithmetic), `grew` branches the
    * centroid source (trained-at-k1 over the prefix vs the k0 seed),
    * and the final serve re-derives from the branch — plus the served
    * quantizer size itself as a `quant_k` column, so an engine that
    * retrained at the wrong k, skipped the resize, or derived from the
    * wrong count hash-mismatches on the values AND the size. */
  private def annResizeOracleSql(occ: Int): String = {
    val sim = graft.similarity.Similarity
    val b7 = sim.ivfBatchSql(AnnIngestSlices.head)
    val b3 = sim.ivfBatchSql(AnnIngestSlices(1))
    s"""WITH $annCodesCteSql,
       |cb AS (SELECT vec_id, c FROM c
       |       WHERE NOT ($b7) AND NOT ($b3)),
       |ct AS (SELECT vec_id, c FROM c WHERE NOT ($b3)),
       |ks AS (SELECT
       |    GREATEST(1, LEAST(1048576,
       |      ((SELECT COUNT(*) FROM cb) + $occ - 1) // $occ)) AS k0,
       |    GREATEST(1, LEAST(1048576,
       |      ((SELECT COUNT(*) FROM ct) + $occ - 1) // $occ)) AS k1),
       |kss AS (SELECT k0, k1, k1 > k0 AS grew,
       |               CASE WHEN k1 > k0 THEN k1 ELSE k0 END AS kf
       |        FROM ks),
       |cent0 AS (SELECT vec_id AS cl, c AS m FROM (
       |            SELECT vec_id, c,
       |              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM cb)
       |          WHERE rn <= (SELECT k0 FROM kss)),
       |sd1 AS (SELECT vec_id AS cl, c AS m FROM (
       |            SELECT vec_id, c,
       |              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM ct)
       |        WHERE rn <= (SELECT k1 FROM kss)),
       |${lloydRoundsSql("ct", "sd1")},
       |centF AS (SELECT cl, m FROM cent2 WHERE (SELECT grew FROM kss)
       |          UNION ALL
       |          SELECT cl, m FROM cent0
       |          WHERE NOT (SELECT grew FROM kss)),
       |${lloydServeSql("centF")}
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos_sim,
       |       $isNewSql AS is_new,
       |       (SELECT CAST(kf AS BIGINT) FROM kss) AS quant_k
       |FROM ranked2 WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  /** The derived-SIZE quantizer rebuild under the live stream (VERDICT
    * r13 next #2 — the chain that CONSUMES the `grew` flag
    * q_ann_cells_update only reported): base vectors seed v=0 assigned
    * under a seed quantizer sized k0 = ⌈n_base/occ⌉ from the base
    * count; batch 7 arrives as a real micro-batch and folds; the
    * maintenance slot re-derives k from the FOLDED count, sees the
    * target-occupancy boundary crossed (k0 → k1: 7→8 at sf0.01, 26→29
    * at sf0.1), and retrains the quantizer AT THE DERIVED k1 over the
    * accumulated codes — the version chain carrying the new size (q=1
    * has k1 rows) — then batch 3 arrives and assigns against a
    * quantizer sized by data it never saw. The registered result is
    * the final top-3 serve off the streamed state with the served
    * quantizer size as `quant_k`; the oracle recomputes
    * count→derived-k→grew→retrain→serve from scratch, value-gating the
    * decision AND the size. `StreamOpsSpec` crash-kills the chain ON
    * the resize batch and pins the recovery state-identical, plus the
    * no-grow branch (occupancy target high enough that k1 == k0 → no
    * retrain → the seed-quantizer serve). Decision separation from
    * [[qStreamRetrainIngest]] is deliberate: that chain retrains on
    * cell BALANCE at fixed k; this one re-SIZES on the count-derived
    * k — the two triggers a production store schedules independently. */
  val qStreamResizeIngest: graft.queries.Q =
    graft.queries.Q("q_stream_resize_ingest",
      annResizeOracleSql(StreamTargetOcc)) { (s, d) =>
      graft.io.Tables.ensureSessionRegistered(s)
      val sim = graft.similarity.Similarity
      val src = embSplit(s, d)
      withChainRun(s, "resize") { run =>
        val baseCodes = sim.annRetrainBaseCodes(s, d, AnnIngestSlices)
          .localCheckpoint(true) // seed sizing + seed assignment
        val k0 = sim.derivedCellsFor(baseCodes.count(), StreamTargetOcc)
        val seed = sim.lloydSeedN(baseCodes, k0)
        seedAnn(run, AnnState(sim.lloydAssignScaled(baseCodes, seed)
          .select("vec_id", "c", "cl"), seed, None))
        runVersionedStream(s, src, run.ckpt)(
          applyAnnResizeBatch(_, _, run.state))
        val fin = finalAnnState(s, run, withWidth = false)
        sim.annRetrainServe(s, d, fin.cells, fin.quant)
          .withColumn("quant_k", lit(fin.quant.size.toLong))
          .orderBy("query_id", "rnk").localCheckpoint(true)
      }
    }

  // ------------------------------------------------------------------
  // Streaming PROBE CALIBRATION: the derived nprobe rides the version
  // chain — after the derived-k rebuild, the SAME maintenance batch
  // recalibrates the probe width from the state's own codes, and the
  // serve probes at the carried width (closing the knob pair under the
  // live runtime: cells sized by count, width sized by cluster scale)
  // ------------------------------------------------------------------

  /** One fold→resize→RECALIBRATE step: [[applyAnnResizeBatch]]'s state
    * contract extended with a probe-width version — `q=N` (centroids),
    * then `p=N` (the 1-row calibrated width), then `v=N` (assignment,
    * the commit marker) — so a crash replay re-derives
    * count→k→grew→retrain→calibrate from the same inputs. The
    * maintenance decision and the calibration are ONE batch: a store
    * that re-sizes its quantizer must re-derive the probe width too
    * (the need-ranks are ranks against the NEW centroid set; carrying
    * the old width across a re-size would be a category error the
    * version chain makes unrepresentable). Non-maintenance batches and
    * the no-grow branch carry the previous width forward. */
  private[graft] def applyAnnCalibrateBatch(batch: DataFrame,
      batchId: Long, statePath: String,
      maintainAfter: Long = ResizeAfterBatch,
      occ: Int = StreamTargetOcc): Unit =
    annMaintainStep(batch, batchId, statePath, maintainAfter,
        withWidth = true, graft.similarity.Similarity.lloydAssignScaled) {
      st => annResized(st, occ).fold(st) { case (cells, cents) =>
        val re = cells.localCheckpoint(true) // calibrate + write
        AnnState(re, cents, Some(graft.similarity.Similarity
          .calibratedLloydWidth(re, cents)))
      }
    }

  /** Calibration CTE block over corpus CTE `x` (vec_id, c) and
    * centroid CTE `c0` (cl, m), prefixed to stay unique: `<p>tr` = the
    * sample's exact int8-dot top-3 among `x`'s own codes, `<p>ax` =
    * the full (vector × centroid) ranking — rn = 1 is the neighbor's
    * cell AND (for query rows) rn at the neighbor's cl is the needed
    * probe rank, one CTE serving both joins — `<p>w` = clamp(max
    * need-rank, [1, k]). Mirrors
    * [[graft.similarity.Similarity.calibratedLloydWidth]] exactly. */
  private def lloydCalibrateSql(p: String, x: String,
      c0: String): String =
    s"""${p}tr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_sum(list_transform(range(1, 65),
       |          i -> q.c[i] * b.c[i])) DESC, b.vec_id) AS trk
       |    FROM $x q JOIN $x b ON b.vec_id != q.vec_id
       |    WHERE q.${graft.similarity.Similarity.QuerySet})
       |  WHERE trk <= 3),
       |${p}ax AS (
       |  SELECT vec_id, cl,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
       |  FROM (SELECT $x.vec_id, $c0.cl,
       |          list_sum(list_transform(range(1, 65),
       |            i -> ($x.c[i] - $c0.m[i]) * ($x.c[i] - $c0.m[i])))
       |            AS d2
       |        FROM $x CROSS JOIN $c0)),
       |${p}w AS (
       |  SELECT GREATEST(1, LEAST((SELECT COUNT(*) FROM $c0),
       |    COALESCE(MAX(qr.rn), 1))) AS w
       |  FROM ${p}tr t
       |  JOIN ${p}ax nb ON nb.vec_id = t.neighbor_id AND nb.rn = 1
       |  JOIN ${p}ax qr ON qr.vec_id = t.query_id AND qr.cl = nb.cl)"""
      .stripMargin

  /** From-scratch VALUE-GATED oracle for [[qStreamCalibrateIngest]]:
    * [[annResizeOracleSql]]'s derivation chain (both sizes from slice
    * counts, `grew` branching the centroid source) PLUS the width —
    * the seed calibration over the base under the seed centroids, the
    * maintenance recalibration over base+batch-7 under the trained
    * centroids, the carried width = whichever branch `grew` selects —
    * and the serve probing at exactly that width, with `quant_k` AND
    * `nprobe` as value-gating result columns. */
  private def annCalibrateOracleSql(occ: Int): String = {
    val sim = graft.similarity.Similarity
    val b7 = sim.ivfBatchSql(AnnIngestSlices.head)
    val b3 = sim.ivfBatchSql(AnnIngestSlices(1))
    s"""WITH $annCodesCteSql,
       |cb AS (SELECT vec_id, c FROM c
       |       WHERE NOT ($b7) AND NOT ($b3)),
       |ct AS (SELECT vec_id, c FROM c WHERE NOT ($b3)),
       |ks AS (SELECT
       |    GREATEST(1, LEAST(1048576,
       |      ((SELECT COUNT(*) FROM cb) + $occ - 1) // $occ)) AS k0,
       |    GREATEST(1, LEAST(1048576,
       |      ((SELECT COUNT(*) FROM ct) + $occ - 1) // $occ)) AS k1),
       |kss AS (SELECT k0, k1, k1 > k0 AS grew,
       |               CASE WHEN k1 > k0 THEN k1 ELSE k0 END AS kf
       |        FROM ks),
       |cent0 AS (SELECT vec_id AS cl, c AS m FROM (
       |            SELECT vec_id, c,
       |              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM cb)
       |          WHERE rn <= (SELECT k0 FROM kss)),
       |sd1 AS (SELECT vec_id AS cl, c AS m FROM (
       |            SELECT vec_id, c,
       |              ROW_NUMBER() OVER (ORDER BY vec_id) AS rn FROM ct)
       |        WHERE rn <= (SELECT k1 FROM kss)),
       |${lloydRoundsSql("ct", "sd1")},
       |centF AS (SELECT cl, m FROM cent2 WHERE (SELECT grew FROM kss)
       |          UNION ALL
       |          SELECT cl, m FROM cent0
       |          WHERE NOT (SELECT grew FROM kss)),
       |${lloydCalibrateSql("s", "cb", "cent0")},
       |${lloydCalibrateSql("f", "ct", "cent2")},
       |wf AS (SELECT CASE WHEN (SELECT grew FROM kss)
       |              THEN (SELECT w FROM fw) ELSE (SELECT w FROM sw)
       |              END AS w),
       |${lloydServeSql("centF", "(SELECT w FROM wf)")}
       |SELECT query_id, neighbor_id, rnk, round(cos, 6) AS cos_sim,
       |       $isNewSql AS is_new,
       |       (SELECT CAST(kf AS BIGINT) FROM kss) AS quant_k,
       |       (SELECT CAST(w AS BIGINT) FROM wf) AS nprobe
       |FROM ranked2 WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin
  }

  /** The probe width RIDES THE VERSION CHAIN (the knob pair closed
    * under the live runtime — r14's batch derivation `q_ann_probe_auto`
    * made nprobe a statistic; this chain makes it STATE): the
    * [[qStreamResizeIngest]] chronology — seed quantizer at
    * k0 = ⌈n_base/occ⌉, batch 7 folds, the maintenance slot re-derives
    * k and retrains at the grown k1 — extended so the SAME maintenance
    * batch recalibrates the probe width from the re-sized state's own
    * codes ([[graft.similarity.Similarity.calibratedLloydWidth]]: exact
    * int8-dot truth over what the index holds, need-ranks against the
    * NEW centroids), the version chain carrying (q=N centroids, p=N
    * width, v=N assignment — p before v, so replays land
    * value-identical); batch 3 then folds under the carried pair, and
    * the registered serve probes at the width read from `p=finalV`,
    * emitting `quant_k` AND `nprobe` so the oracle value-gates BOTH
    * derived knobs. v=0 seeds the width too: the seed calibration over
    * the base corpus under the seed quantizer — a store is never
    * width-less, and the no-grow branch (spec) carries exactly that
    * seed width through. */
  val qStreamCalibrateIngest: graft.queries.Q =
    graft.queries.Q("q_stream_calibrate_ingest",
      annCalibrateOracleSql(StreamTargetOcc)) { (s, d) =>
      graft.io.Tables.ensureSessionRegistered(s)
      val sim = graft.similarity.Similarity
      val src = embSplit(s, d)
      withChainRun(s, "calibrate") { run =>
        val baseCodes = sim.annRetrainBaseCodes(s, d, AnnIngestSlices)
          .localCheckpoint(true) // seed sizing + assignment + width
        val k0 = sim.derivedCellsFor(baseCodes.count(), StreamTargetOcc)
        val seed = sim.lloydSeedN(baseCodes, k0)
        val baseAssigned = sim.lloydAssignScaled(baseCodes, seed)
          .select("vec_id", "c", "cl")
          .localCheckpoint(true) // seed calibration + v=0 write
        seedAnn(run, AnnState(baseAssigned, seed,
          Some(sim.calibratedLloydWidth(baseAssigned, seed))))
        runVersionedStream(s, src, run.ckpt)(
          applyAnnCalibrateBatch(_, _, run.state))
        val fin = finalAnnState(s, run, withWidth = true)
        val w = fin.width.get
        sim.annRetrainServe(s, d, fin.cells, fin.quant, probeW = w)
          .withColumn("quant_k", lit(fin.quant.size.toLong))
          .withColumn("nprobe", lit(w.toLong))
          .orderBy("query_id", "rnk").localCheckpoint(true)
      }
    }

  // ------------------------------------------------------------------
  // Streaming IMAGE INGEST: the dHash delta→fold under the real
  // runtime — the media-side completion of the ingest-chain family
  // (text: q_stream_dedup_ingest; ANN: q_stream_ann_ingest; r14)
  // ------------------------------------------------------------------

  /** Arriving image batches, in order: the planted-variant docs split
    * mod 20 — the same two slices the batch-mode image fold gate
    * (q_image_index_update) phases. */
  private[graft] val ImgIngestSlices: Seq[Long] = Seq(4L, 14L)

  /** Ordered 2-file split of the variant-doc slices (doc_id, text), one
    * file per [[ImgIngestSlices]] slice ([[writeOrderedSplit]]). */
  private[graft] def imgSplit(s: SparkSession, d: String): String =
    orderedSplit(s, d, "img", "imgs") {
      val docs = graft.io.Tables.load(s, d, "documents")
        .select("doc_id", "text")
      ImgIngestSlices.map(m => docs.filter(pmod(col("doc_id"), lit(20L)) === m))
    }

  /** One admit→fold step of the streaming IMAGE ingest sink: the
    * arriving batch is raw (doc_id, text) rows — the sink derives the
    * variant image hash from the STREAMED content through the shared
    * round-trip spelling ([[graft.multimodal.Multimodal
    * .variantImgHashOf]]: block bitmap → resize → real PNG re-encode →
    * decode → dHash), screens it against the newest committed index
    * version with the DIRECTIONAL banded probe, writes the batch's
    * verdict ledger, and folds the survivors' HASH rows into the next
    * version. Unlike the text chain, no side-channel verify table is
    * needed: the four band keys ARE the 64-bit hash, so the persisted
    * index is self-verifying — state versions carry (img_id, doc_id,
    * variant, b0..b3) and both the candidate bands and the exact
    * Hamming verify read off it. Exactly-once by the seeded version
    * chain ([[ChainStep]]). */
  private[graft] def applyImageIngestBatch(batch: DataFrame, batchId: Long,
      statePath: String, verdictsPath: String): Unit = {
    val mm = graft.multimodal.Multimodal
    val step = new ChainStep(batch.sparkSession, statePath, batchId)
    val bhashes = mm.variantHashesOf(batch)
      .localCheckpoint(true) // decode+hash once: screen twice + fold
    val index = step.read("v")
    val verdicts = mm.screenImgBatch(
      bhashes.select(col("img_id").as("bi")),
      mm.imgBandRows(bhashes), mm.imgBandRows(index), bhashes, index)
      .localCheckpoint(true) // ledger write + survivor fold
    step.writeLedger(verdicts, verdictsPath)
    val survivors = verdicts.filter(!col("is_dup"))
      .select(col("bi").as("img_id"))
    step.write("v", step.sized(index.unionByName(
      bhashes.join(survivors, Seq("img_id"), "left_semi"))))
  }

  /** From-scratch two-phase admission oracle for the image chain: the
    * closed-form dHash derivation (shared CTE chain with the batch
    * image gates), then phase-1 verdicts against the originals, phase-2
    * eligibility = originals + phase-1 non-dup survivors — both
    * ledgers emitted. Exactly-once means the stream's cut points are
    * invisible: the crash-restart spec leg gates against THIS same
    * from-scratch answer. */
  private def imageIngestOracleSql: String = {
    val mm = graft.multimodal.Multimodal
    s"""WITH ${mm.dhashOracleCtes},
       |c1 AS (SELECT DISTINCT a.img_id AS bi, b.img_id AS oi
       |       FROM keys a JOIN keys b
       |         ON a.band = b.band AND a.key = b.key
       |       WHERE a.img_id % 2 = 1 AND (a.img_id // 2) % 20 = 4
       |         AND b.img_id % 2 = 0),
       |ham1 AS (SELECT c.bi, c.oi,
       |          bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
       |        + bit_count(xor(x.k2, y.k2)) + bit_count(xor(x.k3, y.k3))
       |            AS hamming
       |         FROM c1 c JOIN kk x ON x.img_id = c.bi
       |                   JOIN kk y ON y.img_id = c.oi),
       |h81 AS (SELECT * FROM ham1 WHERE hamming <= ${mm.DhashHamming}),
       |best1 AS (SELECT bi, MIN(hamming) AS best_hamming
       |          FROM h81 GROUP BY 1),
       |pick1 AS (SELECT h.bi, b.best_hamming, MIN(h.oi) AS best_base
       |          FROM h81 h JOIN best1 b
       |            ON b.bi = h.bi AND h.hamming = b.best_hamming
       |          GROUP BY 1, 2),
       |led1 AS (SELECT CAST(0 AS BIGINT) AS batch, d.doc_id,
       |                p.best_base, p.best_hamming
       |         FROM documents d
       |         LEFT JOIN pick1 p ON p.bi = d.doc_id * 2 + 1
       |         WHERE d.doc_id % 20 = 4),
       |c2 AS (SELECT DISTINCT a.img_id AS bi, b.img_id AS oi
       |       FROM keys a JOIN keys b
       |         ON a.band = b.band AND a.key = b.key
       |       WHERE a.img_id % 2 = 1 AND (a.img_id // 2) % 20 = 14
       |         AND (b.img_id % 2 = 0
       |              OR (b.img_id % 2 = 1 AND (b.img_id // 2) % 20 = 4
       |                  AND b.img_id NOT IN (SELECT bi FROM best1)))),
       |ham2 AS (SELECT c.bi, c.oi,
       |          bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
       |        + bit_count(xor(x.k2, y.k2)) + bit_count(xor(x.k3, y.k3))
       |            AS hamming
       |         FROM c2 c JOIN kk x ON x.img_id = c.bi
       |                   JOIN kk y ON y.img_id = c.oi),
       |h82 AS (SELECT * FROM ham2 WHERE hamming <= ${mm.DhashHamming}),
       |best2 AS (SELECT bi, MIN(hamming) AS best_hamming
       |          FROM h82 GROUP BY 1),
       |pick2 AS (SELECT h.bi, b.best_hamming, MIN(h.oi) AS best_base
       |          FROM h82 h JOIN best2 b
       |            ON b.bi = h.bi AND h.hamming = b.best_hamming
       |          GROUP BY 1, 2),
       |led2 AS (SELECT CAST(1 AS BIGINT) AS batch, d.doc_id,
       |                p.best_base, p.best_hamming
       |         FROM documents d
       |         LEFT JOIN pick2 p ON p.bi = d.doc_id * 2 + 1
       |         WHERE d.doc_id % 20 = 14),
       |led AS (SELECT * FROM led1 UNION ALL SELECT * FROM led2)
       |SELECT batch, doc_id,
       |       CAST(best_base // 2 AS BIGINT) AS best_doc,
       |       CAST(best_base % 2 AS BIGINT) AS best_var,
       |       CAST(best_hamming AS BIGINT) AS best_hamming,
       |       best_hamming IS NOT NULL AS is_dup
       |FROM led ORDER BY batch, doc_id""".stripMargin
  }

  /** Streaming CONTINUOUS-INGEST for images (r14 — the media-side
    * completion of the ingest-chain family, graduating the batch-mode
    * q_image_dedup_delta / q_image_index_update pair to the real
    * micro-batch runtime): the two variant-doc slices arrive as raw
    * (doc_id, text) micro-batches; each batch's sink DERIVES the
    * variant image from the streamed content (block bitmap → resize →
    * real PNG re-encode → decode → dHash, the store-shared spelling),
    * screens it against the newest committed hash-index version, and
    * folds the admitted survivors in — the version chain seeded with
    * the ORIGINALS' hashes at v=0. The registered result is the full
    * 2-batch verdict ledger, and the oracle recomputes the two-phase
    * admission from scratch, so a dropped fold, a re-screen against a
    * stale version, wrong slice order, or a replay that forked the
    * chain all hash-mismatch. `StreamOpsSpec` crash-kills the chain
    * after batch 0 (ledger sink-committed, checkpoint-uncommitted) and
    * pins the recovery ledger- and state-identical to the
    * uninterrupted run.
    *
    * Scale posture: per batch, one decode+hash pass over the ARRIVING
    * images only (mapPartitions, the codec tier's sanctioned shape —
    * the corpus is never re-decoded), a directional banded probe
    * (|batch| × bucket-occupancy candidates), and an append-shaped
    * union write of survivors' 4-long hash rows. */
  val qStreamImageIngest: graft.queries.Q =
    graft.queries.Q("q_stream_image_ingest", imageIngestOracleSql) {
      (s, d) =>
        graft.io.Tables.ensureSessionRegistered(s)
        val mm = graft.multimodal.Multimodal
        val src = imgSplit(s, d)
        withChainRun(s, "imging") { run =>
          run.seed("v", mm.imgHashes(s, d).filter(col("variant") === 0))
          runVersionedStream(s, src, run.ckpt)(
            applyImageIngestBatch(_, _, run.state, run.verd))
          run.finalVersion(ImgIngestSlices.size)
          // the ledger in doc terms
          committedLedger(s, run.verd, ImgIngestSlices.size, "image ingest")(
            col("batch"), expr("bi div 2").as("doc_id"),
            expr("best_base div 2").as("best_doc"),
            (col("best_base") % 2).cast("long").as("best_var"),
            col("best_hamming"), col("is_dup"))
        }
    }

  /** The streaming family's registered (oracle-gated) queries; the
    * remaining operators above are spec-gated batch/stream twins. */
  val all: Seq[graft.queries.Q] =
    Seq(qStreamHourly, qStreamMerge, qStreamMergeBucketed,
      qStreamSessionize, qStreamConversionLag, qStreamDedupIngest,
      qStreamIngestRestart, qStreamRetuneIngest, qStreamAnnIngest,
      qStreamRetrainIngest, qStreamResizeIngest, qStreamCalibrateIngest,
      qStreamImageIngest)
}
