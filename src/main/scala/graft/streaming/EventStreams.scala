package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.Materialize

/** Structured-Streaming form of the reporter/metering surface
  * (reference: src/io/pithos/reporter.clj — put/delete events fanned to
  * reporters; our engine models the event feed as a stream and the
  * meters as continuous queries).
  *
  * Scale design: the windowed aggregation shuffles only (window,
  * event_type) partial aggregates (map-side combined); state for the
  * session tracker is per-key and bounded by the watermark/timeout, so
  * a 1000-executor cluster holds state shards in the state store, not
  * on the driver.
  */
object EventStreams {

  /** Schema of the events feed (TESTDATA events.parquet, ts as micros). */
  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-based streaming source over an events directory (the
    * production entry: new parquet files appear, metering updates). */
  def eventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventSchema).parquet(dir)

  /** Continuous metering: watermarked tumbling-window totals per event
    * type — the streaming analogue of the batch `is4_metering` query. */
  def metering(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total"))

  /** Sliding-window trending counts: watermarked overlapping windows
    * (`width` > `slide`) per event type — the streaming mirror of the
    * batch `ev_trending` assignment, whose integer window ids
    * `us div slide` and `us div slide - 1` enumerate exactly these
    * windows when `width = 2*slide` (StreamingSpec pins the equality).
    * Counts stream incrementally; the top-k RANK does not (it is not
    * monotone under late data), so ranking stays a bounded batch pass
    * over the window/type counts — per window, at most |event types|
    * rows. */
  def trending(events: DataFrame, width: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "30 minutes")
      : DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"))

  /** Stream-static enrichment: each micro-batch of the event stream
    * equi-joins a STATIC dimension snapshot, broadcast — Structured
    * Streaming's stream-static join surface (no state store, no
    * watermark; the static side is re-planned per micro-batch, so a
    * replaced snapshot file is picked up on the next batch). This is
    * the streaming form of the reference's per-request bucket/keystore
    * lookup joins (C1/C5): the dimension rides with the tasks, the
    * stream never shuffles. Left join — events with no dimension row
    * pass through with nulls, a metering feed must not drop on a
    * missing dimension entry. */
  def enrichedEvents(events: DataFrame, dim: DataFrame,
      key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  // ---- stateful session tracking (I-S2 analogue) -------------------------

  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  case class SessionState(n: Long, total: Double)
  case class SessionUpdate(user_id: Long, n: Long, total: Double)

  // ---- multipart-upload session state machine (I-S2) ---------------------

  /** One event in an upload session's life: `part` (a part finished
    * uploading), `complete`, or `abort` (reference:
    * operations.clj:336-352,679-811, meta.clj:96-151). */
  case class PartEvent(upload: String, kind: String, partno: Int,
      size: Long, checksum: String, ts: java.sql.Timestamp)

  /** `lastTs` is the max event time ever seen for the session — the
    * timeout base. Without it, a late-but-within-watermark part event
    * would shorten the deadline to its own older timestamp and expire a
    * live upload prematurely. */
  case class UploadState(parts: Map[Int, (Long, String)], lastTs: Long)

  /** Terminal record per session: `completed` (with the S3 multipart
    * ETag `md5(concat(raw 16-byte part digests))-n` when part checksums
    * are md5 hex, falling back to the checksum strings' UTF-8 bytes for
    * non-hex checksums), `aborted`, or `expired`
    * (watermark timeout — the reference's acknowledged orphan-upload
    * leak, concepts.rst:96-100, becomes an explicit eviction record the
    * GC job consumes). */
  case class UploadResult(upload: String, outcome: String, n_parts: Int,
      total_size: Long, etag: String)

  /** S3 concatenates the *raw* 16-byte part digests before the final
    * md5, not their hex renderings — decode md5-hex checksums; any other
    * checksum shape contributes its UTF-8 bytes (format-compatible but
    * not S3-byte-identical, by necessity). */
  private[streaming] def checksumBytes(ck: String): Array[Byte] =
    if (ck != null && ck.length == 32 && ck.forall(c =>
        (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') ||
        (c >= 'A' && c <= 'F')))
      ck.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    else if (ck == null) Array.emptyByteArray
    else ck.getBytes("UTF-8")

  /** Upload-session tracking via `flatMapGroupsWithState` with
    * event-time timeout: parts accumulate per session key in the state
    * store (sharded across executors, nothing driver-side); `complete`
    * assembles and emits; `abort` discards; watermark expiry emits an
    * `expired` record for orphan GC. */
  def uploadSessions(parts: Dataset[PartEvent],
      sessionTimeoutMs: Long = 30L * 60 * 1000): Dataset[UploadResult] = {
    val spark = parts.sparkSession
    import spark.implicits._
    parts
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.upload)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (uid: String, rows: Iterator[PartEvent],
            state: GroupState[UploadState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator(UploadResult(uid, "expired", st.parts.size,
              st.parts.values.map(_._1).sum, ""))
          } else {
            var st = state.getOption.getOrElse(UploadState(Map.empty, 0L))
            var open = state.exists
            val out = scala.collection.mutable.ListBuffer.empty[UploadResult]
            rows.toSeq.sortBy(e => (e.ts.getTime, e.partno)).foreach { e =>
              val ts = math.max(st.lastTs, e.ts.getTime)
              e.kind match {
                case "part" =>
                  st = UploadState(
                    st.parts + (e.partno -> (e.size, e.checksum)), ts)
                  open = true
                case "complete" =>
                  val ps = st.parts.toSeq.sortBy(_._1)
                  val etag = graft.functions.GraftFunctions.md5Hex(
                    ps.toArray.flatMap(p => checksumBytes(p._2._2))) +
                    s"-${ps.size}"
                  out += UploadResult(uid, "completed", ps.size,
                    ps.map(_._2._1).sum, etag)
                  st = UploadState(Map.empty, ts); open = false
                case "abort" =>
                  out += UploadResult(uid, "aborted", st.parts.size,
                    st.parts.values.map(_._1).sum, "")
                  st = UploadState(Map.empty, ts); open = false
              }
            }
            if (open) {
              state.update(st)
              // event-time expiry from the session's newest part ever seen
              // (st.lastTs survives across batches), never below watermark
              state.setTimeoutTimestamp(math.max(st.lastTs + sessionTimeoutMs,
                state.getCurrentWatermarkMs() + 1))
            } else if (state.exists) {
              state.remove()
            }
            out.iterator
          }
      }
  }

  /** Per-user running totals via `flatMapGroupsWithState` — the custom-
    * state shape the reference implements as its multipart-upload
    * bookkeeping (sessions accumulate parts until completed). State is
    * per-key in the state store; timeout evicts abandoned sessions
    * (the reference's acknowledged orphan-upload leak becomes a
    * timeout policy). */
  // ---- streaming ingest dedup (LLM-pipeline surface) ---------------------

  /** One document arriving on the ingest feed. */
  case class DocEvent(doc_id: Long, ts: java.sql.Timestamp, text: String)

  /** Streaming exact dedup: keep the first arrival of each content
    * fingerprint (normalized-text md5, the same key as the batch
    * `dd_exact`). `dropDuplicatesWithinWatermark` bounds the state store
    * to the watermark horizon — the scale-safe form of streaming dedup
    * (plain `dropDuplicates` would grow state with every distinct
    * document forever); re-arrivals of a fingerprint beyond the horizon
    * are the batch job's business, not the hot ingest path's. */
  def dedupDocuments(docs: Dataset[DocEvent],
      watermark: String = "10 minutes"): DataFrame =
    docs.toDF()
      .withWatermark("ts", watermark)
      .withColumn("fp",
        graft.operators.TextOps.mdFingerprint(col("text")))
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming ingest gate: [[graft.operators.TextOps.ingestGate]]
    * (language ID + composite quality + length — the same predicate
    * function the batch `tx_corpus_filter`/`tx_ingest_gate_batch`
    * queries run, so batch backfill and streaming ingest cannot
    * disagree on what passes), fused in FRONT of the watermark-bounded
    * exact dedup. The gates are pure per-row projections — zero
    * streaming state — and running them first keeps rejected documents
    * out of the dedup state store entirely, so the hot path's only
    * state remains the watermark horizon. The batch-equivalence of the
    * whole gate+dedup composition is oracle-checked as
    * `tx_ingest_gate_batch`. */
  def ingestGate(docs: Dataset[DocEvent], lang: String = "en",
      minQuality: Double = 0.5, watermark: String = "10 minutes")
      : DataFrame = {
    val gated = docs.filter(
      graft.operators.TextOps.ingestGate(col("text"), lang, minQuality))
    dedupDocuments(gated, watermark)
  }

  /** The STEADY-STATE daily pipeline as ONE CONTINUOUS QUERY — the
    * streaming form of the batch capstone `ds_daily_pipeline`
    * (reference analogue: the event/reporter dataflow
    * reporter.clj:4-16 composed with ingest): [[ingestGate]] (gate +
    * watermark-bounded exact dedup, the streaming-stateful stages) →
    * per micro-batch, the same two persisted artifacts the batch
    * pipeline consumes — near-dup survivors via the stored cluster map
    * ([[graft.sources.Models.dedupMap]], stream-static semi-join) and
    * the LM head/middle quality filter via the stored bigram model
    * ([[graft.sources.Models.bigramLm]]) — emitting
    * `(doc_id, nll_bits, bucket)` per fold to `sink`.
    *
    * The LM decile is a PER-FOLD corpus rank (the two-phase
    * distributed form, [[graft.operators.Rank.ntileExact]] inside
    * `lmScoreWith`): each fold's quality dial is computed over that
    * fold's survivors, exactly what the batch pipeline does per daily
    * batch. StreamingSpec pins batch equivalence: one fold holding the
    * whole corpus emits exactly the oracle-checked
    * `ds_daily_pipeline`'s `(doc_id, nll_bits, bucket)` rows.
    *
    * Scale: the streaming state is ONLY the watermark-horizon dedup
    * store; the model joins broadcast fold-sized or model-sized
    * tables; everything corpus-sized stays in the persisted artifacts.
    * `sink` receives a fully-computed fold-local DataFrame and the
    * batchId (write it through a [[graft.sources.VersionedStore]] for
    * the transactional fold — the idempotence reasoning of
    * [[indexMaintenance]] applies unchanged). */
  def dailyPipeline(docs: Dataset[DocEvent], sfDir: String,
      sink: (DataFrame, Long) => Unit, lang: String = "en",
      minQuality: Double = 0.5, watermark: String = "10 minutes")
      : org.apache.spark.sql.streaming.StreamingQuery =
    ingestGate(docs, lang, minQuality, watermark)
      .writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          // fold-sized; feeds scoring twice
          val surv = Materialize("stream:daily_pipeline:survivors",
            batch.toDF()
              .join(graft.sources.Models.dedupMapResolved(spark, sfDir)
                .filter(col("id") === col("label"))
                .select(col("id").as("doc_id")),
                Seq("doc_id"), "left_semi"))
          val scored = graft.queries.TextQueries
            .lmScoreWith(graft.operators.TextOps.lmDocs(surv),
              graft.sources.Models.bigramLm(spark, sfDir))
            .filter(col("decile") <= 7)
            .select(col("doc_id"), col("nll_bits"), col("bucket"))
          sink(scored, batchId)
        }
      }
      .start()

  /** The transactional, IDEMPOTENT fold sink [[dailyPipeline]]'s
    * scaladoc promises: append each fold to `table` through a
    * [[graft.sources.VersionedStore]] (serializable append — a
    * conflicting concurrent commit re-derives, no fold is lost), made
    * at-least-once-safe by the same two layers as
    * [[retrievalMaintenance]]: an applied-batchId marker under
    * `markerDir` short-circuits clean replays, and the append itself
    * drops rows whose `idCol` is already at the committed head
    * (left-semi against a broadcast of the fold's ids, then a
    * broadcast anti back — the head is never shuffled), covering the
    * crash window between the durable commit and the marker. A fully
    * replayed fold therefore commits NOTHING: the head version does
    * not advance.
    *
    * Each append is an O(batch) segment commit
    * ([[graft.sources.VersionedStore]]); `compactEvery > 0` folds the
    * head back to ONE segment after every Nth applied batch
    * (`compactSegments` — an atomic Overwrite commit), the same
    * in-loop file-hygiene valve as the index-maintenance streams'. */
  def versionedFoldSink(vs: graft.sources.VersionedStore, table: String,
      markerDir: String, idCol: String = "doc_id",
      compactEvery: Int = 0)
      : (DataFrame, Long) => Unit = (df, batchId) => {
    val spark = df.sparkSession
    val marker = new org.apache.hadoop.fs.Path(s"$markerDir/$batchId")
    val f = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(marker)) {
      // ids + append read it
      val fold = Materialize("stream:versioned_fold_sink:fold", df)
      val fresh =
        try {
          val present = Materialize("stream:versioned_fold_sink:present",
            vs.read(spark, table)
              .join(broadcast(fold.select(col(idCol))), Seq(idCol),
                "left_semi")
              .select(col(idCol)))
          fold.join(broadcast(present), Seq(idCol), "left_anti")
        } catch {
          case _: NoSuchElementException => fold // no snapshot yet
        }
      if (!fresh.isEmpty) {
        vs.write(fresh, table, org.apache.spark.sql.SaveMode.Append)
        // inside the appended-branch only: a crash-window replay that
        // appended nothing must not commit a gratuitous compaction
        // (the head version would advance on a no-op)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          vs.compactSegments(spark, table)
          ()
        }
      }
      f.mkdirs(marker.getParent)
      f.create(marker, true).close()
    }
  }

  /** Streaming BM25 retrieval-index maintenance — the text twin of
    * [[indexMaintenance]]: each micro-batch of new documents folds
    * into the persisted postings index + doc-length table + df
    * statistic through [[graft.sources.Models.postingsAppend]]. Same
    * two-layer at-least-once idempotence: an applied-batchId marker
    * under the checkpoint dir short-circuits clean replays, and the
    * fold itself runs with `dedupeIds = true` (already-indexed doc ids
    * drop before any write — a replay would otherwise duplicate
    * postings AND double-count df increments), covering the crash
    * window between the durable appends and the marker.
    *
    * `compactEvery > 0` closes the file-layout steady state INSIDE the
    * loop: after every `compactEvery`-th applied fold the postings
    * artifacts rewrite to one file per bucket
    * ([[graft.sources.Models.compactRetrievalIndexes]]), so a year of
    * continuous folds never degrades probes to open/seek-bound
    * many-small-file reads — the maintenance window becomes part of
    * the stream rather than an operator someone must remember to run.
    * Compaction is row-preserving and crash-recoverable (staging +
    * atomic rename; a crashed cutover completes on the next call), so
    * it composes with the replay idempotence unchanged. */
  def retrievalMaintenance(docs: Dataset[DocEvent], sfDir: String,
      checkpointDir: String, compactEvery: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        retrievalFoldBatch(sfDir, checkpointDir, compactEvery)(
          batch, batchId)
      }
      .start()

  /** [[retrievalMaintenance]]'s per-micro-batch body, named so the
    * streaming crash-injection property suite can drive it with
    * EXACTLY foreachBatch's retry contract (a failed (batch, batchId)
    * re-invoked with the same arguments before the stream advances) —
    * `private[graft]`, not API. */
  private[graft] def retrievalFoldBatch(sfDir: String,
      checkpointDir: String, compactEvery: Int)
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    appliedOnce(checkpointDir, compactEvery, batch, batchId) {
      // a TRANSIENT foreign fence — a double-launched maintenance job,
      // a racing nightly batch compact — must not kill the stream: the
      // fold is replay-idempotent (dedupeIds + per-artifact guards),
      // so retry the whole unit with jittered backoff
      // (Generations.retryingConcurrent). A persistent fence still
      // propagates after the attempts and foreachBatch's own retry
      // contract takes over.
      graft.sources.Generations.retryingConcurrent() {
        graft.sources.Models.postingsAppend(spark, sfDir,
          batch.toDF(), "doc_id", "text", dedupeIds = true)
      }
    } {
      graft.sources.Models.compactRetrievalIndexes(spark, sfDir)
    }
  }

  /** The skeleton every maintenance loop's per-micro-batch body shares:
    * unless `batchId`'s applied marker (`<checkpointDir>/applied/<id>`)
    * exists or the batch is empty, run `fold`, pass the
    * `stream_after_fold` crash point (dying there — fold durable,
    * marker lost — is the at-least-once window each fold's `dedupeIds`
    * layer covers), write the marker, and after every
    * `compactEvery`-th batch run `compact` under the transient-fence
    * retry ([[graft.sources.Generations.retryingConcurrent]]). */
  private def appliedOnce(checkpointDir: String, compactEvery: Int,
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long)
      (fold: => Unit)(compact: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(
      s"$checkpointDir/applied/$batchId")
    val f = marker.getFileSystem(
      batch.sparkSession.sparkContext.hadoopConfiguration)
    if (!f.exists(marker) && !batch.isEmpty) {
      fold
      graft.sources.Models.crashHook("stream_after_fold")
      f.mkdirs(marker.getParent)
      f.create(marker, true).close()
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        graft.sources.Generations.retryingConcurrent()(compact)
    }
  }

  /** Streaming near-dup maintenance — the dedup leg of the
    * maintenance triad ([[retrievalMaintenance]] text,
    * [[indexMaintenance]] vectors): each micro-batch of new documents
    * PROBES the persisted historical MinHash-LSH index
    * ([[graft.operators.Dedup.incrementalDedupIndexed]] — band-key
    * equi-join, zero index-side exchange) and the per-doc
    * survivor/duplicate decisions go to `sink(decisions, batchId)`;
    * the batch then FOLDS into the index
    * ([[graft.sources.Models.lshIndexAppend]]) so the next batch sees
    * today's documents — the continuous form of the crawl-vs-index
    * daily loop. Same two-layer at-least-once idempotence as the other
    * loops: applied-batchId marker, and the fold runs with
    * `dedupeIds = true` (a replayed batch appends nothing — a blind
    * re-append would duplicate candidate pairs and corrupt Jaccard
    * denominators). `compactEvery > 0` rewrites BOTH LSH artifacts
    * (bands + shingle sets) to minimal file layout after every Nth
    * applied fold.
    *
    * `foldMap = true` upgrades the fold to
    * [[graft.sources.Models.dedupMapAppend]]: the batch lands in the
    * persisted CLUSTER MAP as well (bridge docs merge base clusters
    * through the remap ledger), and the LSH fold happens inside that
    * call — downstream consumers (survivor picks, sampling weights)
    * then serve folded membership from [[graft.sources.Models
    * .dedupMapResolved]] instead of a base-train snapshot. The index
    * is probed ONCE per micro-batch
    * ([[graft.operators.Dedup.crossSplitPairsIndexed]]): the sink's
    * per-doc decisions and the map fold's merge edges both derive from
    * that one materialized pair set. Requires a trained map at
    * `(threshold*100).toInt`; in-loop compaction then also folds the
    * remap ledger ([[graft.sources.Models.compactDedupMap]]).
    *
    * `k`/`b`/`w` are the LSH hyperparameters of the TRAINED index this
    * loop maintains — they parameterize the probe, the fold, and the
    * in-loop compaction alike (the artifact paths encode them, so a
    * mismatched valve would silently compact a different family). */
  def dedupMaintenance(docs: Dataset[DocEvent], sfDir: String,
      checkpointDir: String, sink: (DataFrame, Long) => Unit,
      threshold: Double = 0.8, compactEvery: Int = 0,
      foldMap: Boolean = false,
      k: Int = 32, b: Int = 16, w: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.toDF().writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        dedupFoldBatch(sfDir, checkpointDir, sink, threshold,
          compactEvery, foldMap, k, b, w)(batch, batchId)
      }
      .start()

  /** [[dedupMaintenance]]'s per-micro-batch body, named for the
    * streaming crash-injection property suite (same contract as
    * [[retrievalFoldBatch]]). */
  private[graft] def dedupFoldBatch(sfDir: String, checkpointDir: String,
      sink: (DataFrame, Long) => Unit, threshold: Double,
      compactEvery: Int, foldMap: Boolean, k: Int, b: Int, w: Int)
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    appliedOnce(checkpointDir, compactEvery, batch, batchId) {
      // probe + fold both read it
      val bdf = Materialize("stream:dedup_fold:batch",
        batch.toDF().select("doc_id", "text"))
      val (bands, sets) = graft.sources.Models.lshIndex(spark, sfDir,
        sys.error("dedupMaintenance requires a trained index " +
          "(call lshIndex first)"), "doc_id", "text", k, b, w)
      // ONE shingle pass and ONE probe per micro-batch (the probe
      // frame is materialized by crossSplitPairsIndexed — the
      // write barrier that keeps the sink decisions pinned to the
      // PRE-fold index state): the sink summary and the fold's
      // every consumer read these two checkpointed frames
      val bSets = Materialize("stream:dedup_fold:shingles",
        graft.operators.Dedup.shingleSets(bdf, "doc_id", "text", w))
      val pairs = graft.operators.Dedup.crossSplitPairsIndexed(
        bands, sets, bdf, "doc_id", "text", threshold, k, b, w,
        precomputedSets = Some(bSets))
      sink(graft.operators.Dedup.dedupSummaryFromPairs(
        pairs, bdf, "doc_id"), batchId)
      // transient-fence retry: same contract as retrievalFoldBatch —
      // the fold unit is replay-idempotent, so a racing maintenance
      // actor's lease backs the stream off instead of killing it
      graft.sources.Generations.retryingConcurrent() {
        if (foldMap) {
          // map + LSH fold in one call, reusing the probe above (the
          // map fold otherwise re-probes — see its crash contract);
          // dedupeIds covers the replay window here too
          graft.sources.Models.dedupMapAppend(spark, sfDir, bdf,
            "doc_id", "text", math.round(threshold * 100).toInt,
            k, b, w, dedupeIds = true,
            precomputedPairs = Some(pairs),
            precomputedSets = Some(bSets))
        } else {
          graft.sources.Models.lshIndexAppend(spark, sfDir, bdf,
            "doc_id", "text", k, b, w, dedupeIds = true,
            precomputedSets = Some(bSets))
        }
      }
    } {
      graft.sources.Models.compactBucketed(spark,
        graft.sources.Models.lshBandsPath(sfDir, k, b, w))
      graft.sources.Models.compactBucketed(spark,
        graft.sources.Models.lshSetsPath(sfDir, w))
      if (foldMap) {
        graft.sources.Models.compactDedupMap(spark, sfDir,
          math.round(threshold * 100).toInt)
      }
    }
  }

  /** One embedding arriving on the vector-ingest feed. */
  case class VecEvent(vec_id: Long, embedding: Seq[Float])

  /** Streaming ANN index maintenance: each micro-batch of new vectors
    * folds into the persisted IVF-PQ index through
    * [[graft.sources.Models.ivfPqIndexAppend]] — encoded against the
    * FROZEN quantizer/codebook (training never reruns on the hot
    * path), appended preserving the cid bucket spec, drift-audited per
    * fold. This is the continuous form of the daily batch loop: the
    * same frozen-model append, driven by `foreachBatch`. The fold
    * replays IDEMPOTENTLY under at-least-once delivery, by two layers:
    * an applied-batchId marker under the stream's checkpoint dir
    * short-circuits clean replays entirely, and the append itself runs
    * with `dedupeIds = true` (already-present ids are dropped via a
    * broadcast semi/anti pair that never shuffles the index), which
    * covers the crash window between a durable Parquet append and the
    * marker/checkpoint commit — deterministic re-encoding alone would
    * NOT prevent duplicate rows there.
    *
    * A tripped drift guard (a batch piling into few cells —
    * distribution shift the frozen quantizer no longer fits) FAILS the
    * stream rather than silently degrading recall: restart after an
    * index rebuild, which is the correct operational response.
    *
    * Scale: the micro-batch encode is a broadcast-model scan of batch
    * size only; state is the streaming checkpoint, not vectors.
    *
    * `compactEvery > 0` rewrites the cid-bucketed codes table to one
    * file per bucket after every Nth applied fold
    * ([[graft.sources.Models.compactBucketed]]) — the same in-loop
    * file-hygiene valve as [[retrievalMaintenance]]'s, for the ANN
    * side of the daily loop.
    *
    * `nList`/`iters`/`m`/`ksub`/`dim` are the TRAINED index's
    * hyperparameters — they parameterize the fold and the in-loop
    * compaction alike (the artifact paths encode them, so a mismatched
    * valve would silently compact a different family). */
  def indexMaintenance(vecs: DataFrame, sfDir: String,
      checkpointDir: String, maxCellShareMilli: Int = 1000,
      compactEvery: Int = 0, nList: Int = 16, iters: Int = 2,
      m: Int = 8, ksub: Int = 256, dim: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        indexFoldBatch(sfDir, checkpointDir, maxCellShareMilli,
          compactEvery, nList, iters, m, ksub, dim)(batch, batchId)
      }
      .start()

  /** [[indexMaintenance]]'s per-micro-batch body, named for the
    * streaming crash-injection property suite (same contract as
    * [[retrievalFoldBatch]]). */
  private[graft] def indexFoldBatch(sfDir: String, checkpointDir: String,
      maxCellShareMilli: Int, compactEvery: Int, nList: Int, iters: Int,
      m: Int, ksub: Int, dim: Int)
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
    val spark = batch.sparkSession
    // marker AFTER the append: a crash in between replays the batch,
    // which dedupeIds then folds to a no-op
    appliedOnce(checkpointDir, compactEvery, batch, batchId) {
      // transient-fence retry: see retrievalFoldBatch
      graft.sources.Generations.retryingConcurrent() {
        graft.sources.Models.ivfPqIndexAppend(spark,
          sfDir, batch.toDF(), "vec_id", "embedding",
          nList = nList, iters = iters, m = m, ksub = ksub, dim = dim,
          maxCellShareMilli = maxCellShareMilli, dedupeIds = true)
      }
    } {
      graft.sources.Models.compactBucketed(spark,
        graft.sources.Models.ivfPqCodesPath(sfDir,
          nList = nList, iters = iters, m = m, ksub = ksub))
    }
  }

  /** Gap-based user sessions as a continuous query: Spark's native
    * `session_window` (30-min event-time gap) — the streaming mirror of
    * the batch `ev_sessionize` query: the same gap SEMANTICS, i.e. the
    * same (user_id, session_start, n_events) partition of events. The
    * watermark bounds session state: a session closes (and its row
    * finalizes) once the watermark passes its end, so state per user is
    * O(open sessions), not O(history) — the shape that holds on a
    * 1000-executor state store. Append mode emits only closed sessions.
    *
    * Cross-surface caveats (why StreamingSpec pins only
    * `(user_id, start, n_events)`): `session_end` here is
    * last-event-time PLUS the gap (native `session_window` end), while
    * batch `ev_sessionize.end_us` is `max(us)` — they differ by exactly
    * the gap; and `total` is a `sum` over doubles whose summation order
    * differs between the state-store merge and the batch hash
    * aggregate, so totals agree only to floating-point reassociation.
    * Consumers comparing the two surfaces must not assume full row
    * equality on `session_end`/`total`. */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("total"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total"))

  def sessionTotals(events: Dataset[EventRow],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : Dataset[SessionUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    val evict = timeout == GroupStateTimeout.ProcessingTimeTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, timeout) {
        (uid: Long, rows: Iterator[EventRow], state: GroupState[SessionState]) =>
          if (evict && state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionUpdate(uid, s.n, s.total))
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0))
            val batch = rows.toSeq
            val next = SessionState(prev.n + batch.size,
              prev.total + batch.map(_.value).sum)
            state.update(next)
            if (evict) state.setTimeoutDuration("30 minutes")
            Iterator(SessionUpdate(uid, next.n, next.total))
          }
      }
  }
}
