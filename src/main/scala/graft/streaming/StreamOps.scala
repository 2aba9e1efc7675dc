package graft.streaming

import graft.extract.Extractor
import graft.model.Extracted
import graft.url.Urls
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the engine.
  *
  * The reference is bounded incremental batch (SURVEY.md §2.8): asyncio
  * queues + size/time micro-batches (/root/reference/src/processor.py:
  * 41-176) with resumable skip of completed work. The streaming analogs:
  * a page stream processed by the same extraction stage (foreachBatch ⇒
  * each micro-batch is one "frontier round" worth of pages), event-time
  * windowed fetch-rate metrics with watermarked late-data handling, and
  * per-host politeness state via mapGroupsWithState (the stateful form of
  * the W6 rate-limit contract).
  */
object StreamOps {

  /** The extraction stage applied to a (possibly streaming) pages frame —
    * identical logic to the batch round, so batch/stream parity is free.
    */
  def extractStage(spark: SparkSession, pages: DataFrame): Dataset[Extracted] = {
    import spark.implicits._
    pages.select(col("url"), col("html"))
      .as[(String, Array[Byte])]
      .map { case (u, h) =>
        Extractor.extractBytes(u, Urls.ideaId(u).getOrElse(Urls.sha256Hex(u)), h)
      }
  }

  /** Event-time tumbling fetch-rate metrics with a watermark: pages/sec per
    * host per window, tolerating `lateness` of out-of-order arrivals.
    */
  def fetchRateByHost(pages: DataFrame, windowLen: String = "1 minute",
      lateness: String = "2 minutes"): DataFrame = {
    pages
      // Urls.host semantics via its declarative twin (codegen'd, no UDF
      // in the streaming agg): the bare authority regexp this used before
      // kept case/port/userinfo, so "http://A.com:80/x" and "http://a.com/y"
      // counted as different hosts — rate metrics that disagree with the
      // per-host budgets the scheduler actually enforces
      .withColumn("host", graft.url.Urls.hostColumn(col("url")))
      .withWatermark("warc_ts", lateness)
      .groupBy(window(col("warc_ts"), windowLen), col("host"))
      .agg(count(lit(1)).as("pages"))
      .select(col("window.start").as("window_start"), col("host"), col("pages"))
  }

  final case class HostState(fetched: Long, lastTsMicros: Long)
  final case class HostDecision(host: String, url: String, admitted: Boolean,
      fetched_so_far: Long)

  /** Stateful per-host politeness admission: admit a fetch only if at least
    * `minGapMs` passed since the host's last admitted fetch and the host is
    * under `budget` total. The streaming twin of the batch schedule()'s
    * window-agg (FrontierRound.schedule), kept in GroupState so it spans
    * micro-batches.
    */
  def politenessAdmission(
      spark: SparkSession,
      requests: Dataset[(String, String, Long)], // (host, url, tsMicros)
      minGapMs: Long,
      budget: Long): Dataset[HostDecision] = {
    import spark.implicits._
    requests.groupByKey(_._1)
      .mapGroupsWithState[HostState, List[HostDecision]](GroupStateTimeout.NoTimeout) {
        case (host, rows, state: GroupState[HostState]) =>
          var st = state.getOption.getOrElse(HostState(0L, Long.MinValue))
          val out = rows.toSeq.sortBy(r => (r._3, r._2)).map { case (_, url, ts) =>
            // first-ever fetch has no gap constraint (MinValue sentinel
            // would overflow the subtraction)
            val gapOk = st.lastTsMicros == Long.MinValue ||
              ts - st.lastTsMicros >= minGapMs * 1000L
            val admitted = gapOk && st.fetched < budget
            if (admitted) st = HostState(st.fetched + 1, ts)
            HostDecision(host, url, admitted, st.fetched)
          }.toList
          state.update(st)
          out
      }
      .flatMap(identity)
  }

  /** Streaming URL-seen dedup — the streaming twin of J1's anti-join: keep
    * the FIRST arrival of each canonical url_key, dropping any duplicate
    * that arrives within the watermark delay
    * (`dropDuplicatesWithinWatermark`, so the per-key state is evicted once
    * event time passes — bounded state, unlike a plain streaming
    * dropDuplicates whose state grows forever; at 10^10 urls the
    * watermark-evicted form is the only viable one, with the cumulative
    * history handled by the batch seen-set on round boundaries).
    */
  def streamingNotSeen(pages: DataFrame, lateness: String = "10 minutes"): DataFrame = {
    val keyUdf = udf((u: String) => Urls.urlKey(u))
    pages
      .withColumn("url_key", keyUdf(col("url")))
      .withWatermark("warc_ts", lateness)
      .dropDuplicatesWithinWatermark("url_key")
  }

  /** Incremental crawl processing: treat arriving pages as a stream; each
    * micro-batch runs the batch extraction stage and writes to the results
    * sink — the foreachBatch shape SURVEY.md §2.8 prescribes for binding
    * the round job to a live source.
    *
    * Exactly-once under micro-batch REPLAY: Structured Streaming can re-run
    * a batch after failure, so a blind append would duplicate rows. Each
    * batch overwrites its own batch_id=N partition directory (the standard
    * idempotent-foreachBatch pattern) — a replay rewrites identical data in
    * place, matching the reference's skip-completed-work resumability.
    */
  def incrementalExtract(spark: SparkSession, pages: DataFrame, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    pages.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        extractStage(batch.sparkSession, batch).write.mode("overwrite")
          .parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()
  }

  /** One micro-batch of streaming incremental curation against a curated
    * store at `storeDir` (layout: base/, index/, survivors/, each holding
    * batch_id=N partitions). The batch folds in via
    * [[graft.ops.Curation.curateDeltaWithBase]] against the store's
    * persisted dedup base + band index, then appends its survivors AND its
    * base/index rows (near-dup losers included — future batches may chain
    * through them) as its own batch_id=N partitions.
    *
    * REPLAY-idempotent, which here takes more than overwrite-own-partition:
    * the corpus reads must EXCLUDE the current batch's partition — a
    * crashed attempt may have written batch_id=N already, and folding the
    * batch against its own half-committed rows would kill every doc as a
    * self-duplicate on retry. Caller contract: ids ascend across batches
    * (ingest order), as in [[graft.ops.Curation.curateDelta]].
    *
    * With `compactThreshold` > 0, once that many live batch partitions
    * accumulate they are folded into one `compact_<N>` generation per
    * sub-table and swept — bounding the per-batch listing + multi-path
    * read that otherwise grows with stream age (a 10^4-batch stream
    * re-creates the small-files pathology the crawl store's seen-part
    * compaction fixed). The base partitions persist `content_hash`, so
    * the next delta's exact-dup anti-join column-prunes to 32-byte rows.
    * Readers must go through [[readCuratedSurvivors]] (newest-generation
    * rule), not a raw directory read.
    */
  private val CompactPrefix = graft.store.Generations.CompactPrefix

  /** The LIVE part directories of one store sub-table: the newest
    * `compact_C` dir (if any) plus every `batch_id=M` with M > C. Stale
    * batch dirs (M ≤ C — already folded, or rewritten by a post-compaction
    * replay) and superseded compact generations are IGNORED by readers and
    * swept opportunistically — the same ignore-then-GC discipline as the
    * crawl store's seen-part compaction (FrontierCrawl). One shared copy
    * of the rule: [[graft.store.Generations]].
    */
  private def livePaths(fs: org.apache.hadoop.fs.FileSystem, path: String,
      excludeBatchId: Long = Long.MinValue): Seq[String] =
    graft.store.Generations.livePaths(fs, path, "batch_id=", excludeBatchId)

  /** Read the curated store's current survivor set (the streaming twin of
    * `Curation.curate`'s return value) — compaction-aware: a plain
    * `read.parquet(dir)` would also pick up folded/stale partitions.
    */
  def readCuratedSurvivors(spark: SparkSession, storeDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storeDir), spark.sparkContext.hadoopConfiguration)
    val live = livePaths(fs, s"$storeDir/survivors")
    // zero-path read.parquet fails with an opaque schema-inference error;
    // name the actual condition instead
    if (live.isEmpty) throw new IllegalStateException(
      s"curated store has no survivor partitions yet: $storeDir " +
        "(no micro-batch committed, or wrong storeDir)")
    spark.read.parquet(live: _*)
  }

  /** Fold the store's live PRIOR-batch partitions into one
    * `compact_<batchId-1>` dir per sub-table, then sweep superseded parts.
    * Crash-safe without a manifest: the compacted dir is written to a temp
    * path and RENAMED into place (atomic on local/HDFS), readers resolve
    * strictly by the newest-generation rule, so a crash between rename and
    * sweep only leaves ignored directories behind.
    *
    * THE CURRENT BATCH IS NEVER FOLDED (generation = batchId - 1, fold
    * excludes batchId): if it were, a crash after one sub-table's rename
    * but before the others would make the REPLAY of this batch read its
    * own rows as "prior corpus" (livePaths' excludeBatchId cannot see
    * inside a compact dir), kill every doc as a self-duplicate, and
    * overwrite the still-live survivors/index partitions with empty data —
    * silent loss. With only prior batches folded, replay recomputes the
    * identical delta against the identical prior set in EVERY crash state.
    */
  private def compactStore(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, storeDir: String,
      batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val gen = batchId - 1
    // the three sub-tables are independent directories with independent
    // generation counters — fold them as one wave (each fold is a
    // read+write+rename+sweep chain; run sequentially a compaction batch
    // pays 3x that chain's job latency). The wave settles every fold
    // before returning so a crash mid-compaction still leaves only
    // ignored-by-readers temp/stale dirs per the newest-generation rule.
    val subs = Seq("base", "index", "survivors")
    graft.Waves.seq("stream-compact")(subs.map { sub => () =>
      val root = s"$storeDir/$sub"
      val live = livePaths(fs, root, excludeBatchId = batchId)
      if (live.nonEmpty) {
        val tmp = new Path(s"$root/_tmp_$CompactPrefix$gen")
        fs.delete(tmp, true)
        spark.read.parquet(live: _*).write.parquet(tmp.toString)
        val dst = new Path(s"$root/$CompactPrefix$gen")
        fs.delete(dst, true)
        require(fs.rename(tmp, dst), s"compaction rename failed for $dst")
        // sweep: every PRIOR batch dir (≤ the new generation) and every
        // older compact generation is now unreferenced; the current
        // batch's dir stays its own live partition
        fs.listStatus(new Path(root)).foreach { st =>
          val n = st.getPath.getName
          val stale =
            (n.startsWith("batch_id=") &&
              n.stripPrefix("batch_id=").toLong <= gen) ||
            (n.startsWith(CompactPrefix) && n != s"$CompactPrefix$gen" &&
              !n.startsWith("_"))
          if (stale) fs.delete(st.getPath, true)
        }
      }
    })
  }

  /** Fold one micro-batch into the curated store. Returns the batch's
    * observed row count (rides an Observation on the fold's own jobs —
    * no extra count job; -1 when the runtime delivers no observed
    * metrics). `deltaDocsBound`: optional upper bound on THIS batch's
    * rows, forwarded to the incremental-LSH broadcast gate so the fold
    * skips its delta count job — stream callers pass the previous
    * batch's observed count with headroom (steady-batch contract; a
    * too-high bound only routes to the always-correct shuffle join, see
    * [[graft.ops.Dedup.minhashLshPairsIncrementalLazy]]).
    */
  def foldCurateBatch(batch: DataFrame, batchId: Long, storeDir: String,
      cfg: graft.ops.Curation.Config,
      idCol: String = "doc_id", textCol: String = "text",
      compactThreshold: Int = 0,
      writePartitions: Int = 4,
      deltaDocsBound: Option[Long] = None): Long = {
    import graft.ops.{Curation, Dedup}
    val spark = batch.sparkSession
    val (basePath, idxPath, outPath) =
      (s"$storeDir/base", s"$storeDir/index", s"$storeDir/survivors")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(storeDir), spark.sparkContext.hadoopConfiguration)
    // the batch count rides the fold's first batch-scanning job (the
    // dedupBase checkpoint / the delta fold's edges checkpoint) — read
    // back AFTER the writes settle, when those jobs have provably run
    val rowsObs = org.apache.spark.sql.Observation()
    val batchObserved = batch.observe(rowsObs, count(lit(1)).as("rows"))
    val priorBase = livePaths(fs, basePath, excludeBatchId = batchId)
    val (survivors, baseAppend) =
      if (priorBase.isEmpty) {
        // first batch: plain batch curation; base = the batch's dedupBase
        val base = Curation.dedupBase(batchObserved, idCol, textCol, cfg)
          .localCheckpoint(true)
        (Curation.curate(batch, idCol, textCol, cfg), base)
      } else {
        val corpusExact = spark.read.parquet(priorBase: _*)
        val index = spark.read.parquet(livePaths(fs, idxPath, batchId): _*)
          .select(col("band"), col("band_hash"), col("id"))
        Curation.curateDeltaWithBase(corpusExact, index, batchObserved,
          idCol, textCol, cfg, deltaDocsBound)
      }
    // micro-batch outputs are delta-sized: writing them at the session's
    // full parallelism produces parallelism-many tiny files per table per
    // batch, and the per-file commit latency dominates the fold's fixed
    // cost. `writePartitions` (0 = leave as-is) coalesces each output —
    // the write is the LAST stage, so upstream compute keeps full
    // parallelism and only the file count shrinks
    def shaped(df: DataFrame): DataFrame =
      if (writePartitions > 0) df.coalesce(writePartitions) else df
    // the three sub-table writes are independent reads of the fold's
    // materialized (localCheckpoint) frames — submitted as one wave (like
    // FrontierStore.commit) so a micro-batch pays ~one write-job latency
    // instead of three; per §D2 the fold is fixed-cost bound, so
    // sequential job launches are exactly what its latency is made of.
    // The wave settles all three before the compaction check below, so a
    // replayed batch never races a still-in-flight Overwrite on the same
    // paths.
    graft.Waves.seq("stream-fold")(Seq(
        // the base persists content_hash so the NEXT delta's exact-dup
        // check column-prunes to 32-byte rows instead of re-hashing text
        () => shaped(baseAppend.withColumn("content_hash", md5(col(textCol))))
          .write.mode("overwrite").parquet(s"$basePath/batch_id=$batchId"),
        () => shaped(Dedup.lshBandIndex(baseAppend, textCol, idCol,
            cfg.minhashHashes, cfg.minhashBands, cfg.shingleSize))
          .write.mode("overwrite").parquet(s"$idxPath/batch_id=$batchId"),
        () => shaped(survivors)
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")))
    // bound the partition count: without folding, a 10^4-batch stream pays
    // a 10^4-dir listing + multi-path read per micro-batch
    if (compactThreshold > 0 &&
        livePaths(fs, basePath).count(_.contains("batch_id=")) >= compactThreshold)
      compactStore(spark, fs, storeDir, batchId)
    // writes settled above ⇒ the observed job finished; a short wait
    // suffices and -1 sends the NEXT fold back to the always-correct
    // count-job gate. NON-latching: a slow listener-bus delivery under
    // the fold's own concurrent jobs is not "observations unsupported",
    // and the miss costs one count-gate fold, not the process-wide latch
    graft.ObservedMetrics.longField(rowsObs, "rows", timeoutSecs = 5,
      latchOnTimeout = false) { -1L }
  }

  /** The steady-batch gate-bound policy in one place: the previous
    * batch's observed row count with ×4 headroom bounds the next fold's
    * broadcast gate (see [[foldCurateBatch]]); no observation (-1) or an
    * empty batch yields no bound — the next fold measures (a count job
    * on the store-shaped plans is cheap exactly when batches are tiny).
    */
  def nextGateBound(prevRows: Long): Option[Long] =
    if (prevRows > 0L) Some(prevRows * 4L) else None

  /** Streaming incremental curation: bind [[foldCurateBatch]] to a live
    * document stream — each micro-batch dedups (exact + near) against
    * everything previously ingested without re-curating it, the
    * foreachBatch twin of the batch `Curation.curate` pipeline and the
    * streaming composition of the daily-ingest `curateDelta` path.
    * Survivors land under `storeDir/survivors/` as they are discovered.
    */
  def streamingCurate(docs: DataFrame, storeDir: String, checkpointDir: String,
      cfg: graft.ops.Curation.Config,
      idCol: String = "doc_id", textCol: String = "text",
      compactThreshold: Int = 0,
      writePartitions: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // steady-batch gate bound: each fold's observed row count (×4
    // headroom) bounds the NEXT fold's broadcast gate, removing the
    // per-fold delta count job; -1 (no observed metrics) falls back to
    // the count-job gate for the following batch
    val prevRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        prevRows.set(foldCurateBatch(batch, batchId, storeDir, cfg, idCol,
          textCol, compactThreshold, writePartitions,
          nextGateBound(prevRows.get())))
        ()
      }
      .start()
  }
}
