package graft.perfbench

import graft.ObservedMetrics
import graft.frontier.{FrontierCrawl, FrontierRound, Outlinks, PolitenessConfig, RobotsRules}
import graft.model.FrontierEntry
import graft.store.FrontierStore
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** `FrontierCrawl.run` rebuilt step by step from the same public calls, in
  * the same order, with a span around each step. Each round is one
  * top-level `frontier.round` span; the trace-only probes (`probe.*`) sit
  * between rounds as their own top-level spans so they never inflate a
  * round. Adaptive backoff is not replicated (no workload enables it).
  */
object Replica {
  private implicit val ec: ExecutionContext = ExecutionContext.global

  def crawl(spark: SparkSession, spans: Spans, pages: DataFrame, seeds: Seq[String],
      store: Option[FrontierStore], robots: RobotsRules, cfg: PolitenessConfig,
      maxRounds: Int): FrontierCrawl.CrawlResult = {
    import spark.implicits._
    require(!cfg.adaptiveBackoff, "the replica does not model adaptive backoff")

    val latest = store.flatMap(st => spans("store.latest")(st.latest()))
    val (startRound, frontier0, seen0, seenParts0) = latest match {
      case Some(snap) => spans("store.resume_read") {
        val st = store.get
        val aliasParts = snap.tables.getOrElse("seen_parts", "").split(";").filter(_.nonEmpty)
        val parts = if (aliasParts.nonEmpty) aliasParts else snap.tables.get("seen").toArray
        st.gcUnreferencedSeenParts(parts.toSet)
        val seenDf = if (parts.isEmpty) None else Some(spark.read.parquet(parts.toSeq: _*))
        (snap.round + 1, st.read(snap, "frontier").as[FrontierEntry], seenDf, parts.toVector)
      }
      case None => (0, FrontierCrawl.seedFrontier(spark, seeds), None, Vector.empty[String])
    }
    var round = startRound
    var frontier = frontier0
    var seen = seen0
    var seenParts = seenParts0
    var seenBloom: Option[BloomFilter] =
      if (cfg.useBloomPrefilter) seen0.map(s => spans("seen.bloom_build") {
        s.stat.bloomFilter("url_key", math.max(cfg.bloomCapacity, 1000L), cfg.bloomFpp)
      })
      else None
    var seenCount: Long = if (seen.isDefined) -1L else 0L
    var schedParts = Vector.empty[DataFrame]
    var extractedParts = Vector.empty[DataFrame]
    var resultParts = Vector.empty[DataFrame]
    var metricParts = Vector.empty[DataFrame]
    var frontierRows = -1L

    def more: Boolean =
      if (frontierRows >= 0L) frontierRows > 0L
      else spans("frontier.drained_check")(!frontier.isEmpty)

    while (round < maxRounds && more) {
      val inFrontier = frontier
      val bound = frontierRows
      var roundResults: DataFrame = null
      spans("frontier.round") {
        val roundSpan = spans.currentId
        val out = spans("frontier.plan_build") {
          FrontierRound.run(spark, pages, frontier, seen, round, robots, cfg, seenCount,
            seenBloom, frontierSizeBound = frontierRows, bloomRidesCheckpoint = store.isEmpty)
        }
        val fBloom: Future[Option[BloomFilter]] = store match {
          case Some(st) =>
            val f = Future(spans("seen.bloom_merge", roundSpan)(out.seenBloomAfter()))
            val compactNow = cfg.compactSeenParts > 0 && seenParts.length >= cfg.compactSeenParts
            val baseTables = Map(
              "frontier" -> out.newFrontier.toDF(),
              "seen_delta" -> out.newSeenKeys,
              "extracted" -> out.extracted.toDF(),
              "results" -> out.results,
              "scheduled" -> out.scheduled.withColumn("round", lit(round)),
              "metrics" -> out.metrics.toDF())
            val tables =
              if (compactNow) baseTables + ("seen_compacted" -> spark.read.parquet(seenParts: _*))
              else baseTables
            val newParts =
              (if (compactNow) Vector(st.tablePath(round, "seen_compacted")) else seenParts) :+
                st.tablePath(round, "seen_delta")
            val snap = spans("frontier.checkpoint") {
              spans("store.commit") {
                st.commit(round, tables, aliases = Map("seen_parts" -> newParts.mkString(";")))
              }
            }
            spans.add("store.commit_bytes", Crawls.treeBytes(
              new java.io.File(st.tablePath(round, "frontier")).getParent))
            if (compactNow) spans("store.gc")(st.gc(seenParts))
            seenParts = newParts
            spans("frontier.bookkeeping") {
              frontier = st.read(snap, "frontier").as[FrontierEntry]
              seen = Some(spark.read.parquet(seenParts: _*))
              schedParts :+= st.read(snap, "scheduled")
              extractedParts :+= st.read(snap, "extracted")
              resultParts :+= st.read(snap, "results")
              metricParts :+= st.read(snap, "metrics")
            }
            f
          case None =>
            val ck = spans("frontier.checkpoint") {
              val wave = spans.currentId
              val fCk = Future(spans("frontier.round_checkpoint", wave)(out.checkpointRound()))
              frontier = spans("frontier.fetch_extract") {
                out.newFrontier.localCheckpoint(true).as[FrontierEntry]
              }
              Await.result(fCk, Duration.Inf)
            }
            val f = Future(spans("seen.bloom_merge", roundSpan)(out.seenBloomAfter()))
            spans("frontier.bookkeeping") {
              seen = Some(seen match {
                case Some(s) => s.union(ck.seenDelta)
                case None => ck.seenDelta
              })
              schedParts :+= ck.scheduled.withColumn("round", lit(round))
              resultParts :+= ck.results
              extractedParts :+= ck.extracted
              metricParts :+= ck.metrics
            }
            f
        }
        spans("frontier.bookkeeping") {
          if (seenCount >= 0L) seenCount += out.scheduledCount()
          frontierRows = ObservedMetrics.longField(out.frontierObservation, "rows") { -1L }
        }
        seenBloom = spans("seen.bloom_await")(Await.result(fBloom, Duration.Inf))
        roundResults = resultParts.last
        spans("frontier.unpersist")(out.caches.foreach(_.unpersist(false)))
      }
      Traced.scheduleProbe(spark, spans, inFrontier, robots, cfg, bound)
      for (s <- seen; b <- seenBloom)
        Traced.seenProbe(spark, spans, pages, roundResults, round, s, b, cfg)
      round += 1
    }
    store.foreach(_ => spans.set("store.seen_parts", seenParts.length.toDouble))

    def unionAll(parts: Vector[DataFrame]): Option[DataFrame] =
      if (parts.isEmpty) None else Some(parts.reduce(_.union(_)))
    val emptyKeys = spark.createDataset(Seq.empty[String]).toDF("url_key")
    FrontierCrawl.CrawlResult(round - startRound, seen.getOrElse(emptyKeys),
      unionAll(schedParts).getOrElse(spark.emptyDataFrame),
      unionAll(extractedParts).getOrElse(spark.emptyDataFrame),
      unionAll(resultParts).getOrElse(spark.emptyDataFrame),
      unionAll(metricParts).getOrElse(spark.emptyDataFrame))
  }
}

/** Per-layer numbers of a traced run: the driver listener's view, the
  * spans, and probes that time one module's public function at a time.
  */
object Traced {
  import PerfBench._

  /** Largest tolerated gap between the traced wall time and the sum of
    * the top-level spans, as a share of the wall time.
    */
  val AccountingTolerance = 0.05

  /** Driver metrics, tracing overhead and the span-accounting check. */
  def finish(run: Run, spans: Spans, rec: DriverRecorder, from: Double, to: Double,
      rounds: Int, untracedS: Double, tracedS: Double, ok: Boolean): Unit = {
    val top = spans.all.filter(s => s.parent == 0 && s.start >= from && s.end <= to)
    val (aside, traced) = top.partition(_.name == "bench.aside")
    val wallMs = to - from - aside.map(_.ms).sum
    run.layers ++= rec.metrics(wallMs.toLong, from.toLong, to.toLong, rounds)
    run.layers("trace.overhead_ratio") = tracedS / untracedS
    val accounted = traced.map(_.ms).sum / wallMs
    run.layers("trace.accounted_ratio") = accounted
    run.checked("trace accounting", if (math.abs(accounted - 1.0) <= AccountingTolerance) Nil
      else Seq(f"top-level spans cover $accounted%.3f of the traced wall time"))
    run.report("traced_ok") = ok
  }

  def frontierLayers(run: Run, spans: Spans): Unit = {
    Seq("plan_build", "fetch_extract", "next_frontier", "checkpoint").foreach { n =>
      run.layers(s"frontier.${n}_s") = spans.seconds(s"frontier.$n")
    }
    run.layers("frontier.schedule_s") = spans.seconds("probe.schedule")
    run.layers("frontier.scheduled_rows") = spans.counter("frontier.scheduled_rows")
    run.layers("frontier.deferred_rows") = spans.counter("frontier.deferred_rows")
  }

  def seenLayers(run: Run, spans: Spans): Unit = {
    val cand = spans.counter("seen.candidates")
    val negatives = spans.counter("seen.actual_negatives")
    run.layers("seen.notseen_s") = spans.seconds("probe.seen.notseen")
    run.layers("seen.candidates") = cand
    run.layers("seen.survivors") = spans.counter("seen.survivors")
    run.layers("seen.bloom_negative_ratio") =
      if (cand > 0) spans.counter("seen.bloom_negatives") / cand else 0.0
    run.layers("seen.bloom_fp_ratio") =
      if (negatives > 0) spans.counter("seen.bloom_false_positives") / negatives else 0.0
    run.layers("seen.keys") = spans.counter("seen.keys")
    run.layers("seen.bloom_build_s") =
      spans.seconds("seen.bloom_build") + spans.seconds("seen.bloom_merge")
  }

  def storeLayers(run: Run, spans: Spans): Unit = {
    val commits = math.max(spans.count("store.commit"), 1)
    run.layers("store.commit_s") = spans.seconds("store.commit") / commits
    run.layers("store.commit_mb") = spans.counter("store.commit_bytes") / commits / 1048576.0
    def perCall(name: String) = spans.seconds(name) / math.max(spans.count(name), 1)
    run.layers("store.latest_s") = perCall("store.latest")
    run.layers("store.resume_read_s") = perCall("store.resume_read")
    run.layers("store.seen_parts") = spans.counter("store.seen_parts")
  }

  /** Time `FrontierRound.schedule` alone on a round's input frontier. */
  def scheduleProbe(spark: SparkSession, spans: Spans, frontier: Dataset[FrontierEntry],
      robots: RobotsRules, cfg: PolitenessConfig, sizeBound: Long = -1L): Unit =
    spans("probe.schedule") {
      val plan = FrontierRound.schedule(spark, frontier, robots, cfg,
        frontierSizeBound = sizeBound)
      spans.add("frontier.scheduled_rows", plan.scheduled.count().toDouble)
      spans.add("frontier.deferred_rows", plan.deferred.count().toDouble)
      plan.dedupedCache.unpersist(false)
    }

  /** Time `FrontierRound.notSeen` alone: this round's raw outlinks
    * (re-derived from its fetched pages with `Outlinks.extract`) against
    * the seen set and bloom the round leaves behind, so the survivors are
    * exactly the round's fresh links.
    */
  def seenProbe(spark: SparkSession, spans: Spans, pages: DataFrame, results: DataFrame,
      round: Int, seen: DataFrame, bloom: BloomFilter, cfg: PolitenessConfig): Unit = {
    import spark.implicits._
    spans("probe.seen") {
      val links = results.filter(col("status") === "ok").select("url")
        .join(pages.select("url", "html"), "url")
        .as[(String, Array[Byte])]
        .flatMap { case (u, h) => Outlinks.extract(u, new String(h, "UTF-8")) }
        .toDF("url", "priority")
      val candidates = FrontierRound.toFrontier(spark, links, round + 1).cache()
      val candKeys = candidates.map(_.url_key).collect().toSet
      val keys = seen.count()
      spans.set("seen.keys", keys.toDouble)
      val survivors = spans("probe.seen.notseen") {
        FrontierRound.notSeen(spark, candidates, seen, cfg, keys, Some(bloom))
          .map(_.url_key).collect().toSet
      }
      candidates.unpersist(false)
      val positives = candKeys.count(k => bloom.mightContainString(k))
      val actualSeen = candKeys.size - survivors.size
      spans.add("seen.candidates", candKeys.size)
      spans.add("seen.survivors", survivors.size)
      spans.add("seen.bloom_negatives", candKeys.size - positives)
      spans.add("seen.bloom_false_positives", positives - actualSeen)
      spans.add("seen.actual_negatives", survivors.size)
    }
  }
}
