package graft.perfbench

import graft.extract.Extractor
import graft.fixtures.{FixtureConfig, FixtureGen}
import graft.frontier.{FrontierCrawl, FrontierRound, HostRules, PolitenessConfig, RobotsRules}
import graft.model.{Extracted, FrontierEntry}
import graft.sim.CrawlSimulator
import graft.sources.PagesTable
import graft.store.FrontierStore
import graft.url.Urls
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.parallel.CollectionConverters._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** The three crawl workloads: one bulk frontier round, a storeless
  * open-budget drain, and a store-backed polite crawl that is stopped and
  * resumed. Every operation is checked against the scalar
  * [[CrawlSimulator]] (and, for the bulk round, a full-parse extraction).
  */
object Crawls {
  import PerfBench._

  /** Setup repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  // workload shapes (sized so a run fits the time budget on 4 cores)
  val BulkDetails = 48000
  val BulkHosts = 64
  val BulkBuckets = 16
  /** Rounds before measuring: one checked round. The JIT still speeds up
    * the round after it; the measured median absorbs that.
    */
  val WarmRounds = 1
  val DrainDetails = 4000
  val DrainHosts = 32
  val PoliteDetails = 600
  val PoliteHosts = 12
  val PoliteBudget = 150
  val PoliteStopAfter = 1
  /** Listing fanout: every listing is found by round 1, so the budget, not
    * the listing depth, decides how many rounds the crawl takes.
    */
  val PoliteFanout = 32
  /** Error pages per mille on the polite web: high enough that the last
    * content round always holds one, so every seed ends with a retry round.
    */
  val PoliteErrorsPerMille = 100

  private implicit val ec: ExecutionContext = ExecutionContext.global

  type FetchRow = (Int, String, Int, String, String) // round, host, slot, url, status

  /** Run `make` SetupReps times, record the median as `setup_s`, return the
    * last result.
    */
  def setup[T](run: Run)(make: Int => T): T = {
    val timed = (0 until SetupReps).map(i => secs(make(i)))
    run.sample("setup_s", median(timed.map(_._2)))
    timed.last._1
  }

  /** Stable 64-bit hash of a row's fields (nulls distinct from ""). */
  def rowHash(fields: Seq[Any]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val s = fields.map(f => if (f == null) "\u0000" else f.toString).mkString("\u0001")
    java.nio.ByteBuffer.wrap(md.digest(s.getBytes("UTF-8"))).getLong
  }

  def extractedHash(e: Extracted): Long = rowHash(Seq(e.url, e.file_id, e.question,
    e.answer, e.content, e.file_number, e.opinion_number, e.opinion_date_shamsi,
    e.opinion_date_gregorian))

  def differ[T](what: String, engine: Seq[T], reference: Seq[T]): Seq[String] =
    if (engine == reference) Nil
    else Seq(s"$what: engine ${engine.size} rows, reference ${reference.size}; " +
      s"engine-only ${engine.diff(reference).take(2)}, reference-only ${reference.diff(engine).take(2)}")

  /** (round, host, slot, url, status) of every scheduled fetch, sorted. */
  def engineRows(schedule: DataFrame, results: DataFrame): Vector[FetchRow] = {
    val r = results.select(col("url_key").as("rk"), col("round").as("rr"), col("status"))
    schedule.join(r, schedule("url_key") === r("rk") && schedule("round") === r("rr"))
      .select(schedule("round"), schedule("host"), col("slot"), schedule("url"), col("status"))
      .collect()
      .map(x => (x.getInt(0), x.getString(1), x.getInt(2), x.getString(3), x.getString(4)))
      .toVector.sorted
  }

  def simRows(sim: CrawlSimulator.SimResult, keep: Int => Boolean = _ => true): Vector[FetchRow] =
    sim.schedule.filter(f => keep(f.round))
      .map(f => (f.round, f.host, f.slot, f.url, f.status)).sorted

  def seenOf(seen: DataFrame): Set[String] = seen.collect().map(_.getString(0)).toSet

  def crawlProblems(rows: Vector[FetchRow], seen: Set[String],
      sim: CrawlSimulator.SimResult, keep: Int => Boolean = _ => true): Seq[String] =
    differ("schedule", rows, simRows(sim, keep)) ++
      (if (seen == sim.seen) Nil
       else Seq(s"seen set: engine ${seen.size} keys, reference ${sim.seen.size}"))

  // ---------------------------------------------------------------- round_bulk

  def roundBulk(spark: SparkSession, run: Run): Unit = {
    import spark.implicits._
    val cfg = FixtureConfig(seed = run.seed, hosts = BulkHosts, totalDetails = BulkDetails,
      paginationFanout = 8, wordScale = 6, megaPerMille = 100)
    val pol = PolitenessConfig(defaultBudget = Int.MaxValue / 2, defaultDelayMs = 0L,
      maxRetries = 0)
    val pagesDir = (i: Int) => run.dir(s"bulk-pages-$i")
    val pages = setup(run) { i =>
      PagesTable.writeBucketed(spark, FixtureGen.pages(spark, cfg, run.cores).toDF(),
        s"bulk_pages_$i", pagesDir(i), buckets = BulkBuckets)
      spark.table(s"bulk_pages_$i")
    }
    def frontierOf(s: SparkSession): Dataset[FrontierEntry] = {
      import s.implicits._
      FrontierRound.toFrontier(s, s.range(0, cfg.totalRows.toLong, 1, run.cores)
        .map(i => (FixtureGen.urlOf(cfg, i), 0.0)).toDF("url", "priority"), 0)
        .localCheckpoint(true).as[FrontierEntry]
    }
    val frontier = frontierOf(spark)

    // independent reference: the simulator's first two rounds over the same
    // universe and a full-tree-parse extraction of every page it fetched
    val (universe, sim, refExtracted) = run.phase("reference") {
      val universe = FixtureGen.universe(cfg)
      val allUrls = (0L until cfg.totalRows.toLong).map(FixtureGen.urlOf(cfg, _))
      val sim = CrawlSimulator.run(universe, allUrls, RobotsRules.empty, pol, maxRounds = 2)
      (universe, sim, sim.schedule.filter(_.status == "ok").toVector.par.map { f =>
        val fileId = Urls.ideaId(f.url).getOrElse(Urls.sha256Hex(f.url))
        (f.url, extractedHash(Extractor.extractViaFullParse(f.url, fileId, universe(f.url))))
      }.seq.sorted)
    }
    val refRows = simRows(sim, _ == 0)
    val refNext = simRows(sim, _ == 1).map(_._4).sorted

    // the four read-backs are independent jobs over the round's caches
    def problems(out: FrontierRound.RoundOutput): Seq[String] = Await.result(Future.sequence(Seq(
      Future(differ("schedule",
        engineRows(out.scheduled.withColumn("round", lit(0)), out.results), refRows)),
      Future(differ("extracted",
        out.extracted.map(e => (e.url, extractedHash(e))).collect().toVector.sorted, refExtracted)),
      Future(differ("next frontier", out.newFrontier.map(_.url).collect().toVector.sorted, refNext)),
      Future(if (seenOf(out.newSeenKeys) == sim.seen) Nil else Seq("seen set differs")))),
      Duration.Inf).flatten

    def round(s: SparkSession, p: DataFrame, f: Dataset[FrontierEntry],
        spans: Option[Spans]): (FrontierRound.RoundOutput, Double) = {
      def span[T](name: String)(body: => T): T = spans.fold(body)(_(name)(body))
      secs {
        val out = span("frontier.plan_build") {
          FrontierRound.run(s, p, f, None, 0, RobotsRules.empty, pol)
        }
        span("frontier.fetch_extract")(out.extracted.count())
        span("frontier.next_frontier")(out.newFrontier.count())
        out
      }
    }

    def checkedRound(what: String): Option[Double] = {
      val (out, t) = round(spark, pages, frontier, None)
      val ok = run.checked(what, problems(out))
      out.caches.foreach(_.unpersist(false))
      if (ok) Some(t) else None
    }

    run.phase("warmup") {
      checkedRound("warm-up round")
      (1 until WarmRounds).foreach { _ =>
        round(spark, pages, frontier, None)._1.caches.foreach(_.unpersist(false))
      }
    }
    run.measure(minIters = 2) { i =>
      checkedRound(s"round $i").foreach { t =>
        run.sample("round_s", t)
        run.sample("round_urls_per_s", refRows.size / t)
      }
    }
    run.report("round_urls") = refRows.size

    if (run.traced) {
      val spans = new Spans(s"round_bulk-${run.seed}")
      val rec = new DriverRecorder(spark.sparkContext)
      rec.settle(); rec.reset()
      val from = spans.nowMs
      val (out, t) = round(spark, pages, frontier, Some(spans))
      val to = spans.nowMs
      rec.settle()
      val ok = run.checked("traced round", problems(out))
      out.caches.foreach(_.unpersist(false))
      Traced.finish(run, spans, rec, from, to, rounds = 1,
        untracedS = median(run.samples.getOrElse("round_s", Seq(t)).toSeq), tracedS = t, ok)
      run.layers("frontier.rounds") = 1
      Traced.scheduleProbe(spark, spans, frontier, RobotsRules.empty, pol)
      Traced.frontierLayers(run, spans)
      Kernels.run(run, universe)
      spans.write(new java.io.File(run.work, "spans.jsonl").getPath)
      politeStore(spark, run, layersOnly = true)

      // N -> 4N: the same round at local[1], urls/s against local[cores]
      spark.stop()
      val one = session(1, run.work)
      try {
        val p1 = PagesTable.bind(one, "bulk_pages_1core",
          pagesDir(SetupReps - 1), buckets = BulkBuckets)
        val f1 = frontierOf(one)
        val times = (0 until 2).map { i =>
          val (o, t1) = round(one, p1, f1, None)
          val good = run.checked(s"local[1] round $i", problems(o))
          o.caches.foreach(_.unpersist(false))
          if (good) t1 else Double.NaN
        }
        val ups1 = refRows.size / times.last
        val ups4 = median(run.samples("round_urls_per_s").toSeq)
        run.layers("frontier.scaling_eff_1to4") = ups4 / (run.cores * ups1)
      } finally one.stop()
    }
  }

  // ---------------------------------------------------------------- drain_open

  def drainOpen(spark: SparkSession, run: Run): Unit = {
    val cfg = FixtureConfig(seed = run.seed, hosts = DrainHosts,
      totalDetails = DrainDetails, paginationFanout = 8)
    val pol = PolitenessConfig(defaultBudget = Int.MaxValue / 2, defaultDelayMs = 0L,
      maxRetries = 0)
    val pages = setup(run) { i =>
      val dir = run.dir(s"drain-pages-$i")
      FixtureGen.pages(spark, cfg, run.cores).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val sim = run.phase("reference") {
      CrawlSimulator.run(FixtureGen.universe(cfg), cfg.seeds, RobotsRules.empty, pol, 50)
    }

    def drain(): (FrontierCrawl.CrawlResult, Double) = secs {
      val r = FrontierCrawl.run(spark, pages, cfg.seeds, None, RobotsRules.empty, pol,
        maxRounds = 50)
      r.extracted.count()
      r.results.count()
      r
    }
    def checkedDrain(what: String): Option[Double] = {
      val (r, t) = drain()
      val ok = run.checked(what,
        crawlProblems(engineRows(r.schedule, r.results), seenOf(r.seenKeys), sim))
      if (ok) Some(t) else None
    }

    run.phase("warmup")(checkedDrain("warm-up drain"))
    run.measure(minIters = 3) { i =>
      checkedDrain(s"drain $i").foreach { t =>
        run.sample("drain_s", t)
        run.sample("drain_urls_per_s", sim.schedule.size / t)
      }
    }
    run.report("drain_urls") = sim.schedule.size
    run.report("drain_rounds") = sim.schedule.map(_.round).max + 1

    if (run.traced) {
      val spans = new Spans(s"drain_open-${run.seed}")
      val rec = new DriverRecorder(spark.sparkContext)
      rec.settle(); rec.reset()
      val from = spans.nowMs
      val (r, t) = secs(Replica.crawl(spark, spans, pages, cfg.seeds, None, RobotsRules.empty,
        pol, maxRounds = 50))
      val to = spans.nowMs
      rec.settle()
      val ok = run.checked("traced drain",
        crawlProblems(engineRows(r.schedule, r.results), seenOf(r.seenKeys), sim))
      Traced.finish(run, spans, rec, from, to, rounds = r.rounds,
        untracedS = median(run.samples.getOrElse("drain_s", Seq(t)).toSeq), tracedS = t, ok)
      run.layers("frontier.rounds") = r.rounds
      Traced.frontierLayers(run, spans)
      Traced.seenLayers(run, spans)
      spans.write(new java.io.File(run.work, "spans.jsonl").getPath)
    }
  }

  // ------------------------------------------------------- crawl_polite_store

  /** A third of the hosts publish a Disallow rule and a Crawl-delay. The
    * mega-host is never among them, so the crawl's size does not depend on
    * the seed.
    */
  def politeRobots(cfg: FixtureConfig): RobotsRules =
    RobotsRules((0 until cfg.hosts).filter(_ % 3 == 1).map { h =>
      cfg.host(h) -> HostRules(crawlDelayMs = Some(1000L + 500L * (h % 4)), budget = None,
        disallow = Seq(s"/opinions/Detail?IdeaId=${cfg.detailId(h, 1)}"))
    }.toMap)

  /** The `crawl_polite_store` workload. With `layersOnly` it writes the web
    * once and runs just the traced pass, for the seen, store and deferral
    * layer numbers of a traced `round_bulk` run: the only layers a single
    * open-budget round never touches.
    */
  def politeStore(spark: SparkSession, run: Run, layersOnly: Boolean = false): Unit = {
    val cfg = FixtureConfig(seed = run.seed, hosts = PoliteHosts,
      totalDetails = PoliteDetails, paginationFanout = PoliteFanout,
      errorPagePerMille = PoliteErrorsPerMille)
    val robots = politeRobots(cfg)
    val pol = PolitenessConfig(defaultBudget = PoliteBudget, defaultDelayMs = 1000L,
      maxRetries = 1, compactSeenParts = 2)
    val k = PoliteStopAfter
    def writePages(i: Int): DataFrame = {
      val dir = run.dir(s"polite-pages-$i")
      FixtureGen.pages(spark, cfg, run.cores).write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    val pages = if (layersOnly) writePages(0) else setup(run)(writePages)
    val (sim, simK1) = run.phase(if (layersOnly) "store_reference" else "reference") {
      val universe = FixtureGen.universe(cfg)
      (CrawlSimulator.run(universe, cfg.seeds, robots, pol, maxRounds = 100),
        CrawlSimulator.run(universe, cfg.seeds, robots, pol, maxRounds = k + 1))
    }
    require(simRows(sim).map(_._1).max > k, "polite crawl must outlast the stop round")

    type Crawler = (Option[FrontierStore], Int) => FrontierCrawl.CrawlResult
    val engine: Crawler = (st, rounds) =>
      FrontierCrawl.run(spark, pages, cfg.seeds, st, robots, pol, maxRounds = rounds)

    final case class Pass(t1: Double, rowsK: Vector[FetchRow], seenK: Set[String], tk: Double,
        rows: Vector[FetchRow], seen: Set[String], t2: Double, rounds: Int)

    /** One pass over a fresh store: stop after k rounds, resume for one
      * round, resume again until the frontier drains. The resumed round is
      * read back before the last leg compacts its seen part away.
      */
    def pass(root: String, crawl: Crawler, spans: Option[Spans]): Pass = {
      deleteTree(root)
      def leg(rounds: Int) = secs(crawl(Some(new FrontierStore(spark, root)), rounds))
      val (r1, t1) = leg(k)
      val (rk, tk) = leg(k + 1)
      val (rowsK, seenK) = DriverRecorder.aside(spark.sparkContext, spans) {
        (engineRows(rk.schedule, rk.results), seenOf(rk.seenKeys))
      }
      val (r2, t2) = leg(100)
      val (rows, seen) = DriverRecorder.aside(spark.sparkContext, spans) {
        ((engineRows(r1.schedule, r1.results) ++ rowsK ++ engineRows(r2.schedule, r2.results))
          .sorted, seenOf(r2.seenKeys))
      }
      deleteTree(root)
      Pass(t1, rowsK, seenK, tk, rows, seen, t2, r1.rounds + rk.rounds + r2.rounds)
    }

    /** Check a pass against the simulator and record its samples. */
    def verify(tag: String, p: Pass, record: Boolean = true): Boolean = {
      val okK = run.checked(s"$tag resume round", crawlProblems(p.rowsK, p.seenK, simK1, _ == k))
      val okFull = run.checked(s"$tag stop+resume crawl", crawlProblems(p.rows, p.seen, sim))
      val crawlS = p.t1 + p.tk + p.t2
      if (okFull && okK && record) {
        run.sample("polite_crawl_s", crawlS)
        run.sample("polite_fetches_per_s", p.rows.size / crawlS)
        run.sample("resume_round_s", p.tk)
      }
      okFull && okK
    }

    val root = new java.io.File(run.work, "store").getAbsolutePath
    if (!layersOnly) {
      // warm-up: the stop and the one-round resume, checked
      run.phase("warmup") {
        deleteTree(root)
        engine(Some(new FrontierStore(spark, root)), k)
        val r = engine(Some(new FrontierStore(spark, root)), k + 1)
        run.checked("warm-up resume round", crawlProblems(engineRows(r.schedule, r.results),
          seenOf(r.seenKeys), simK1, _ == k))
        deleteTree(root)
      }
      run.measure(minIters = 1)(i => verify(s"pass $i", pass(root, engine, None)))
      run.report("polite_fetches") = sim.schedule.size
      run.report("polite_rounds") = sim.schedule.map(_.round).max + 1
      run.report("stop_after_rounds") = k
    }

    if (run.traced) {
      val spans = new Spans(s"crawl_polite_store-${run.seed}")
      val replica: Crawler = (st, rounds) =>
        Replica.crawl(spark, spans, pages, cfg.seeds, st, robots, pol, rounds)
      if (layersOnly) {
        verify("traced store crawl", pass(root, replica, Some(spans)), record = false)
        run.layers("frontier.deferred_rows") = spans.counter("frontier.deferred_rows")
        run.layers("frontier.checkpoint_s") = spans.seconds("frontier.checkpoint")
      } else {
        val rec = new DriverRecorder(spark.sparkContext)
        rec.settle(); rec.reset()
        val from = spans.nowMs
        val p = pass(root, replica, Some(spans))
        val to = spans.nowMs
        rec.settle()
        Traced.finish(run, spans, rec, from, to, p.rounds,
          untracedS = median(run.samples("polite_crawl_s").toSeq),
          tracedS = p.t1 + p.tk + p.t2, verify("traced", p, record = false))
        run.layers("frontier.rounds") = p.rounds
        Traced.frontierLayers(run, spans)
      }
      Traced.seenLayers(run, spans)
      Traced.storeLayers(run, spans)
      spans.write(new java.io.File(run.work,
        if (layersOnly) "spans-store.jsonl" else "spans.jsonl").getPath)
    }
  }

  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(path))
  }

  def treeBytes(path: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L) else f.length()
    size(new java.io.File(path))
  }
}
