package graft.frontier

import graft.{ObservedMetrics, Waves}
import graft.model.FrontierEntry
import graft.store.FrontierStore
import graft.url.Urls
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-round crawl driver — the Spark analog of `crawl_all`
  * (/root/reference/src/handler.py:444-497): iterate frontier rounds until
  * the frontier drains or the round limit hits, committing an atomic
  * snapshot (frontier / seen / extracted / results / metrics) per round so
  * a killed job resumes from the last published manifest with lineage
  * intact (north_rule; reference analog: find_last_saved_page,
  * handler.py:553-599).
  *
  * Iterative-job hygiene: each round's frontier and seen set are
  * re-read from the committed parquet (or localCheckpoint when storeless),
  * truncating the logical plan so lineage doesn't grow across rounds.
  */
object FrontierCrawl {

  final case class CrawlResult(
      rounds: Int,
      seenKeys: DataFrame,
      schedule: DataFrame, // all rounds' scheduled rows with round column
      extracted: DataFrame,
      results: DataFrame,
      metrics: DataFrame)

  def seedFrontier(spark: SparkSession, seeds: Seq[String]): Dataset[FrontierEntry] = {
    import spark.implicits._
    // all seeds carry priority 0 (listing page 1); deterministic tiebreak
    // by url_key mirrors the simulator contract
    spark.createDataset(seeds.map { u =>
      val canon = Urls.canonicalize(u)
      FrontierEntry(Urls.sha256Hex(canon), canon, Urls.host(canon), 0.0, 0, 0)
    })
  }

  def run(
      spark: SparkSession,
      pages: DataFrame,
      seeds: Seq[String],
      store: Option[FrontierStore] = None,
      robots: RobotsRules = RobotsRules.empty,
      cfg: PolitenessConfig = PolitenessConfig(),
      maxRounds: Int = 100): CrawlResult = {
    import spark.implicits._

    // resume from the latest committed snapshot when present. The seen set
    // is stored as per-round delta parts (O(R) total write volume instead
    // of rewriting the cumulative set every round); the manifest's
    // "seen_parts" alias lists them.
    val (startRound, frontier0, seen0, seenParts0) = store.flatMap(_.latest()) match {
      case Some(snap) =>
        val st = store.get
        val aliasParts = snap.tables.getOrElse("seen_parts", "")
          .split(";").filter(_.nonEmpty)
        // legacy (round-1-era single-manifest) stores committed the
        // CUMULATIVE seen set as a plain 'seen' table and carry no
        // seen_parts alias — resuming one off the alias alone would
        // silently drop the whole seen set and re-fetch every crawled URL.
        // The legacy table becomes the single initial part.
        val parts =
          if (aliasParts.nonEmpty) aliasParts
          else snap.tables.get("seen").toArray
        // a crash between a compacting commit's publish and its gc leaves
        // folded dirs orphaned with no future reclaim — sweep them now.
        // UNCONDITIONAL (keyed on the manifest's part list, not the current
        // config): a store crawled WITH compaction and resumed with it
        // disabled would otherwise leak its crash-window dirs forever, and
        // the sweep is safe regardless — it only deletes dirs the committed
        // manifest no longer references
        st.gcUnreferencedSeenParts(parts.toSet)
        val seenDf = if (parts.isEmpty) None else Some(spark.read.parquet(parts.toSeq: _*))
        (snap.round + 1, st.read(snap, "frontier").as[FrontierEntry], seenDf, parts.toVector)
      case None =>
        (0, seedFrontier(spark, seeds), None, Vector.empty[String])
    }

    var round = startRound
    var frontier = frontier0
    var seen = seen0
    var seenParts = seenParts0
    // cumulative seen-set bloom, maintained incrementally across rounds
    // (each round ORs in its delta — O(R) total build scan volume instead
    // of rebuilding over the cumulative set, O(R²)). On resume it is
    // rebuilt ONCE from the committed parts.
    var seenBloom: Option[org.apache.spark.util.sketch.BloomFilter] =
      if (cfg.useBloomPrefilter) seen0.map(_.stat.bloomFilter("url_key",
        math.max(cfg.bloomCapacity, 1000L), cfg.bloomFpp))
      else None
    // storeless mode: the cumulative seen view grows by ONE union node per
    // round over the checkpointed delta frames (no O(R^2) re-copying — and
    // no per-round rebuild of the R-way union either: re-deriving
    // `deltas.reduce(union)` each round re-analyzed R-1 fresh Dataset
    // constructions per round, a measured O(R) driver cost per round that
    // a drain profile showed growing 18→67ms by round 6; the incremental
    // union analyzes only the new top node, its children already marked
    // analyzed)
    // running url_key count of `seen` (may overcount retries; used only to
    // size the bloom filter, where an upper bound is safe)
    var seenCount: Long = if (seen.isDefined) -1L else 0L

    // per-round accumulator parts: only the crawl RESULT reads these.
    // Store-path parts are plain reads of committed tables; storeless
    // parts are LAZY projections over each round's superset checkpoint
    // (FrontierRound.checkpointRound) — nothing per-round is awaited for
    // them beyond the one checkpoint job itself.
    var schedParts = Vector.empty[DataFrame]
    var extractedParts = Vector.empty[DataFrame]
    var resultParts = Vector.empty[DataFrame]
    var metricParts = Vector.empty[DataFrame]

    // frontier row count observed off the PREVIOUS iteration's
    // materialization (checkpoint/snapshot write) — the drained? test costs
    // no job after the first iteration. A -1 (observation timeout — the
    // shared ObservedMetrics latch makes that a one-time stall, not
    // per-round) falls back to the explicit isEmpty test: correct, just
    // one extra small job.
    var frontierRows = -1L
    // adaptive-backoff state: the rules actually applied each round (==
    // `robots` unless cfg.adaptiveBackoff merges per-round overrides).
    // On RESUME the state is rebuilt from the last committed round's
    // results — overrides derive from exactly one round, so the committed
    // results table is the whole state; without this a killed+restarted
    // crawl would schedule the failing host at full budget and diverge
    // from the uninterrupted run (the resume-equivalence invariant)
    var robotsCur = robots
    if (cfg.adaptiveBackoff && startRound > 0)
      store.flatMap(_.latest()).foreach { snap =>
        val ov = AdaptiveBudgets
          .fromResults(store.get.read(snap, "results"),
            base = cfg.defaultBudget)
          .collect()
          .map(r => r.getAs[String]("host") -> r.getAs[Int]("budget")).toMap
        robotsCur = AdaptiveBudgets.mergeInto(robots, ov)
      }
    while (round < maxRounds &&
        (if (frontierRows >= 0L) frontierRows > 0L else !frontier.isEmpty)) {
      // the previous round's observed frontier row count bounds this
      // round's schedule (schedule ⊆ frontier), letting run() skip the
      // eager per-round count job whenever the bound fits the
      // broadcast-delta gate; -1 (round 0 / observation miss) keeps the
      // measured-count path
      val out = FrontierRound.run(spark, pages, frontier, seen, round,
        robotsCur, cfg, seenCount, seenBloom, frontierSizeBound = frontierRows,
        bloomRidesCheckpoint = store.isEmpty)
      // the round's bookkeeping once it is materialized, run in the same
      // wave as the next round's bloom (see below)
      def afterRound(): Unit = {
        // running seen count (sizes next round's bloom): the schedule count
        // is free here — the commit/checkpoint materialized the round, so
        // the observation-backed thunk returns without launching a job
        if (seenCount >= 0L) seenCount += out.scheduledCount()
        // the next frontier was materialized (localCheckpoint or snapshot
        // write); its observed row count arrives on the listener bus
        // momentarily (latching bounded wait via the shared helper)
        frontierRows =
          ObservedMetrics.longField(out.frontierObservation, "rows") { -1L }
        // adaptive politeness backoff (opt-in): overrides from THIS round's
        // statuses (the results projection reads the already-materialized
        // checkpoint/commit — one cheap job), merged into the ORIGINAL
        // robots so a recovering host regains its budget. Override rows are
        // failing-host-bounded by construction (clean hosts emit nothing)
        // skipped when the loop is about to exit (drained frontier or final
        // round) — the overrides would be computed and thrown away
        if (cfg.adaptiveBackoff && frontierRows != 0L && round + 1 < maxRounds) {
          val ov = AdaptiveBudgets.fromResults(resultParts.last,
              base = cfg.defaultBudget)
            .collect()
            .map(r => r.getAs[String]("host") -> r.getAs[Int]("budget")).toMap
          robotsCur = AdaptiveBudgets.mergeInto(robots, ov)
        }
      }
      // next round's cumulative bloom. Store path: delta build + merge runs
      // in one wave with the commit (see RoundOutput.seenBloomAfter for
      // why the in-flight merge is probe-safe; the thunk waits for the big
      // job's observation before touching the schedule cache). Storeless
      // path: built AFTER checkpointRound() — the delta then reads the
      // checkpoint-riding accumulator, no build job at all. Either wave
      // settles before the caches feeding the bloom are released below
      // (the delta build reads the round's `scheduled` cache).
      seenBloom = store match {
        case Some(st) =>
          Waves.all("crawl-commit")(out.seenBloomAfter(), {
            // atomic multi-table snapshot; reading back truncates lineage.
            // seen is committed as this round's DELTA; the manifest carries
            // the full part list (no distinct/rewrite of the cumulative set —
            // retries may duplicate keys, harmless for anti-join/bloom)
            // seen-part compaction: when the prior delta list has grown past
            // the threshold, fold those on-disk parts into one table written
            // as part of THIS round's commit (concurrent with the round's own
            // tables, same atomic manifest publish — a crash before publish
            // leaves only an ignored orphan). The current round's delta stays
            // its own part, so the compacted read never re-derives newSeenKeys
            val compactNow = cfg.compactSeenParts > 0 &&
              seenParts.length >= cfg.compactSeenParts
            val baseTables = Map(
              "frontier" -> out.newFrontier.toDF(),
              "seen_delta" -> out.newSeenKeys,
              "extracted" -> out.extracted.toDF(),
              "results" -> out.results,
              "scheduled" -> out.scheduled.withColumn("round", lit(round)),
              "metrics" -> out.metrics.toDF())
            val tables =
              if (compactNow)
                baseTables + ("seen_compacted" -> spark.read.parquet(seenParts: _*))
              else baseTables
            val newParts =
              (if (compactNow) Vector(st.tablePath(round, "seen_compacted"))
               else seenParts) :+ st.tablePath(round, "seen_delta")
            val snap = st.commit(round, tables,
              aliases = Map("seen_parts" -> newParts.mkString(";")))
            // the folded parts are unreferenced by the just-published
            // manifest (resume reads the newest), so reclaim their disk now
            if (compactNow) st.gc(seenParts)
            seenParts = newParts
            frontier = st.read(snap, "frontier").as[FrontierEntry]
            seen = Some(spark.read.parquet(seenParts: _*))
            schedParts :+= st.read(snap, "scheduled")
            extractedParts :+= st.read(snap, "extracted")
            resultParts :+= st.read(snap, "results")
            metricParts :+= st.read(snap, "metrics")
            afterRound()
          })._1
        case None =>
          // the frontier checkpoint is the round's big job: it populates
          // the fused pages-pass cache (classify+extract+outlinks). The
          // ONLY other materialization the round pays is the superset
          // checkpoint — ONE cache read from which the seen delta,
          // schedule, results, extracted, and metrics all derive as lazy
          // projections (they read checkpoint blocks, so they survive the
          // cache release below). Extraction itself already ran inside the
          // round's single fused pages pass. The two materializations are
          // one wave: they share the cached fused pass, and the block
          // manager's per-partition locks make whichever task
          // arrives first compute a partition while the other waits then
          // reads — same total work, but the checkpoint wave's job latency
          // overlaps the big job instead of following it (order between
          // the two actions is semantics-free: both are materializations
          // of deterministic plans over the same caches).
          val (ck, next) = Waves.all("crawl-checkpoint")(
            out.checkpointRound(), out.newFrontier.localCheckpoint(true))
          frontier = next.as[FrontierEntry]
          seen = Some(seen match {
            case Some(s) => s.union(ck.seenDelta)
            case None => ck.seenDelta
          })
          schedParts :+= ck.scheduled.withColumn("round", lit(round))
          resultParts :+= ck.results
          extractedParts :+= ck.extracted
          metricParts :+= ck.metrics
          // AFTER the checkpoint: the delta bloom now reads the narrow
          // checkpoint's accumulator (when the partitions×bytes gate let it
          // ride) — merge cost only, the per-round build job is gone
          Waves.all("crawl-bloom")(out.seenBloomAfter(), afterRound())._1
      }
      out.caches.foreach(_.unpersist(false))
      round += 1
    }

    def unionAll(parts: Vector[DataFrame]): Option[DataFrame] =
      if (parts.isEmpty) None else Some(parts.reduce(_.union(_)))

    val emptyKeys = spark.createDataset(Seq.empty[String]).toDF("url_key")
    CrawlResult(
      round - startRound,
      seen.getOrElse(emptyKeys),
      unionAll(schedParts).getOrElse(spark.emptyDataFrame),
      unionAll(extractedParts).getOrElse(spark.emptyDataFrame),
      unionAll(resultParts).getOrElse(spark.emptyDataFrame),
      unionAll(metricParts).getOrElse(spark.emptyDataFrame))
  }
}
