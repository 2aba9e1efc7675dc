package graft

import graft.extract.Extractor
import graft.fixtures.{FixtureConfig, FixtureGen}
import graft.frontier._
import graft.sim.CrawlSimulator
import graft.store.FrontierStore
import org.apache.spark.sql.functions._

/** Crawl-equivalence + politeness + resume tests (SURVEY.md §5 tests 2/4,
  * FIXTURES.md §4/§6): the Spark engine must reproduce the scalar
  * simulator's schedule (round, host, slot, url), final URL-seen set, and
  * extracted set exactly, under the same seeds + politeness budget.
  */
class FrontierSpec extends SparkTestBase {

  private val cfg = FixtureConfig(seed = 42L, hosts = 4, totalDetails = 60)
  private lazy val pagesDf = FixtureGen.pages(spark, cfg, partitions = 4).toDF().cache()
  private lazy val universe = FixtureGen.universe(cfg)

  private def runBoth(pol: PolitenessConfig, robots: RobotsRules = RobotsRules.empty) = {
    val sim = CrawlSimulator.run(universe, cfg.seeds, robots, pol, maxRounds = 50)
    val eng = FrontierCrawl.run(spark, pagesDf, cfg.seeds, None, robots, pol, maxRounds = 50)
    (sim, eng)
  }

  // the default-politeness crawl is asserted by several tests; run it once
  private lazy val defaultRun =
    runBoth(PolitenessConfig(defaultBudget = 7, saltBuckets = 4))

  test("fixture universe sanity: details + listings, mega-host skew") {
    assert(universe.size == cfg.totalRows)
    assert(cfg.hostCounts(0) == 30) // mega-host = half
    assert(universe.keys.exists(_.contains("IdeaId=")))
    assert(universe.keys.exists(_.contains("search?page=")))
  }

  test("engine schedule == simulator schedule (round, host, slot, url, status)") {
    val (sim, eng) = defaultRun
    val resultsR = eng.results.select(col("url_key").as("rk"),
      col("round").as("r_round"), col("status"))
    val engRows = eng.schedule
      .join(resultsR,
        eng.schedule("url_key") === resultsR("rk") &&
          eng.schedule("round") === resultsR("r_round"))
      .select(eng.schedule("round"), eng.schedule("host"), col("slot"),
        eng.schedule("url"), col("status"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3), r.getString(4)))
      .toSet
    val simRows = sim.schedule.map(f => (f.round, f.host, f.slot, f.url, f.status)).toSet
    assert(engRows == simRows)
  }

  test("global round capacity: engine == simulator; capped work defers, never drops") {
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4,
      maxUrlsPerRound = 5L)
    val (sim, eng) = runBoth(pol)
    val engRows = eng.schedule
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    val simRows = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engRows == simRows)
    // the cut is a deferral: the capped crawl still reaches the full
    // universe — its final seen set equals the UNCAPPED crawl's
    val (simFull, _) = defaultRun
    assert(sim.seen == simFull.seen)
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
    // and it genuinely bound: more rounds than the uncapped crawl
    assert(sim.schedule.map(_.round).max > simFull.schedule.map(_.round).max)
  }

  test("adaptive backoff: engine == simulator; failing hosts shed budget") {
    // the DEFAULT fixture is all-ok; backoff needs failures to bind — use
    // an error-dense universe (~30% error pages)
    val cfgB = FixtureConfig(seed = 11L, hosts = 3, totalDetails = 60,
      errorPagePerMille = 300)
    val pagesB = FixtureGen.pages(spark, cfgB, partitions = 4).toDF()
    val uniB = FixtureGen.universe(cfgB)
    val pol = PolitenessConfig(defaultBudget = 8, saltBuckets = 4,
      adaptiveBackoff = true)
    val sim = CrawlSimulator.run(uniB, cfgB.seeds, RobotsRules.empty, pol, 50)
    val eng = FrontierCrawl.run(spark, pagesB, cfgB.seeds, None,
      RobotsRules.empty, pol, 50)
    val engRows = eng.schedule
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    val simRows = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engRows == simRows)
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
    // and it genuinely BOUND: the same crawl with backoff off schedules
    // differently (error-rate quartiles shrink budgets on this fixture)
    val simOff = CrawlSimulator.run(uniB, cfgB.seeds, RobotsRules.empty,
      pol.copy(adaptiveBackoff = false), 50)
    assert(sim.schedule != simOff.schedule,
      "backoff changed nothing on an error-dense fixture")
  }

  test("adaptive backoff composes with real robots: equivalence + authority") {
    val cfgB = FixtureConfig(seed = 11L, hosts = 3, totalDetails = 60,
      errorPagePerMille = 300)
    val pagesB = FixtureGen.pages(spark, cfgB, partitions = 4).toDF()
    val uniB = FixtureGen.universe(cfgB)
    // h0 carries a robots-EXPLICIT budget (must stay authoritative over
    // any adaptive override) and h1 a disallow rule (re-filters the
    // frontier every round alongside the overrides)
    val robots = RobotsRules(Map(
      "h0.example.ir" -> HostRules(None, Some(5), Seq.empty),
      "h1.example.ir" -> HostRules(None, None, Seq("/search"))))
    val pol = PolitenessConfig(defaultBudget = 8, saltBuckets = 4,
      adaptiveBackoff = true)
    val sim = CrawlSimulator.run(uniB, cfgB.seeds, robots, pol, 50)
    val eng = FrontierCrawl.run(spark, pagesB, cfgB.seeds, None, robots, pol, 50)
    val engRows = eng.schedule
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(engRows == sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet)
    // explicit budget never exceeded AND never adaptively shrunk below
    // what its own errors would imply is moot — authority means 5, always
    val h0 = eng.schedule.filter(col("host") === "h0.example.ir")
      .groupBy(col("round")).count().collect()
    h0.foreach(r => assert(r.getLong(1) <= 5))
  }

  test("adaptive backoff survives a kill/resume: == uninterrupted run") {
    val cfgB = FixtureConfig(seed = 13L, hosts = 3, totalDetails = 50,
      errorPagePerMille = 300)
    val pagesB = FixtureGen.pages(spark, cfgB, partitions = 4).toDF()
    val pol = PolitenessConfig(defaultBudget = 8, saltBuckets = 4,
      adaptiveBackoff = true)
    val full = FrontierCrawl.run(spark, pagesB, cfgB.seeds, None,
      RobotsRules.empty, pol, 50)
    val dir = java.nio.file.Files.createTempDirectory("graft-backoff-store").toString
    val store = new FrontierStore(spark, dir)
    // "kill" after 2 rounds, then resume: robotsCur must be REBUILT from
    // the committed round's results or the failing host schedules at
    // full budget and the schedule diverges
    FrontierCrawl.run(spark, pagesB, cfgB.seeds, Some(store),
      RobotsRules.empty, pol, 2)
    val resumed = FrontierCrawl.run(spark, pagesB, cfgB.seeds,
      Some(new FrontierStore(spark, dir)), RobotsRules.empty, pol, 50)
    // a resumed CrawlResult's schedule covers post-resume rounds only (the
    // committed store holds the earlier ones) — compare rounds >= 2, which
    // is exactly where a lost backoff state would diverge
    val rows = (df: org.apache.spark.sql.DataFrame) => df
      .filter(col("round") >= 2)
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(rows(resumed.schedule) == rows(full.schedule))
    assert(resumed.seenKeys.collect().map(_.getString(0)).toSet ==
      full.seenKeys.collect().map(_.getString(0)).toSet)
  }

  test("capByPriority: exact distributed top-N, dedup winner rule, scrambled input") {
    import spark.implicits._
    val entries = (0 until 500).map { i =>
      graft.model.FrontierEntry(f"k$i%03d", s"http://h${i % 7}.ir/$i",
        s"h${i % 7}.ir", (i % 50).toDouble, 0, 0)
    } :+ // duplicate key whose higher-attempt copy must win the dedup
      graft.model.FrontierEntry("k000", "http://h0.ir/0", "h0.ir", 0.0, 2, 0)
    val ds = spark.createDataset(entries).repartition(13)
    val (kept, cut) = FrontierRound.capByPriority(spark, ds, 37L)
    val keptRows = kept.collect()
    val cutRows = cut.collect()
    assert(keptRows.length == 37)
    val dedup = entries.groupBy(_.url_key).map { case (_, es) =>
      es.minBy(e => (e.priority, -e.attempt, e.discovered_round))
    }.toSeq
    val expect = dedup.sortBy(e => (e.priority, e.url_key)).take(37)
      .map(_.url_key).toSet
    assert(keptRows.map(_.url_key).toSet == expect)
    // kept ∪ cut == the deduped input, exactly once each
    val all = keptRows ++ cutRows
    assert(all.map(_.url_key).toSet == dedup.map(_.url_key).toSet)
    assert(all.length == dedup.size)
    assert(all.find(_.url_key == "k000").get.attempt == 2)
    // n beyond the frontier: nothing cut
    val (k2, c2) = FrontierRound.capByPriority(spark, ds, 10000L)
    assert(c2.isEmpty && k2.count() == dedup.size)
  }

  test("final seen set equals simulator's") {
    val (sim, eng) = defaultRun
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
  }

  test("bucket-local cuckoo seen strategy: full crawl matches the simulator too") {
    // the cuckooSeenBuckets flag swaps the Bloom prefilter for the
    // distributed bucket-cogroup probe; crawl ordering and the final seen
    // set must be indistinguishable (prefilters never make DROP decisions)
    val (sim, eng) = runBoth(PolitenessConfig(defaultBudget = 7, saltBuckets = 4,
      useBloomPrefilter = false, cuckooSeenBuckets = 8,
      cuckooExpectedPerBucket = 256))
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
    val engSched = eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val simSched = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engSched == simSched)
  }

  test("seen-check regimes are equivalent: broadcast-delta path == at-scale eager-bloom fallback") {
    // small rounds take the broadcast-delta seen check (this round's keys
    // anti-joined via broadcast, prior bloom prefilters the cumulative set,
    // merged bloom built off the critical path); rounds above
    // broadcastDeltaMaxKeys take the eager merged-bloom prefilter. The two
    // regimes must produce identical crawls — force the fallback with a
    // zero gate and compare against both the simulator and the default run
    val (sim, eng) = runBoth(PolitenessConfig(defaultBudget = 7, saltBuckets = 4,
      broadcastDeltaMaxKeys = 0L))
    val engSeen = eng.seenKeys.collect().map(_.getString(0)).toSet
    assert(engSeen == sim.seen)
    val engSched = eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(engSched == sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet)
    val (_, engDefault) = defaultRun
    val defSched = engDefault.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(engSched == defSched)
  }

  test("extracted url set equals simulator's; extraction is byte-identical") {
    val (sim, eng) = defaultRun
    val engExtract = eng.extracted.collect()
    assert(engExtract.map(_.getAs[String]("url")).toSet == sim.extractedUrls)
    // per-url byte equality against direct extraction from the universe body
    engExtract.foreach { row =>
      val u = row.getAs[String]("url")
      val direct = Extractor.extract(u,
        graft.url.Urls.ideaId(u).getOrElse(graft.url.Urls.sha256Hex(u)), universe(u))
      assert(row.getAs[String]("question") == direct.question, u)
      assert(row.getAs[String]("answer") == direct.answer, u)
      assert(row.getAs[String]("content") == direct.content, u)
      assert(row.getAs[String]("opinion_date_gregorian") == direct.opinion_date_gregorian, u)
    }
  }

  test("politeness budget: no host exceeds budget in any round; slots dense") {
    val pol = PolitenessConfig(defaultBudget = 5, defaultDelayMs = 1000L, saltBuckets = 4)
    val (_, eng) = runBoth(pol)
    val perHostRound = eng.schedule.groupBy(col("round"), col("host"))
      .agg(count(lit(1)).as("n"), max(col("slot")).as("maxSlot"),
        max(col("scheduled_delay_ms")).as("maxDelay"))
      .collect()
    perHostRound.foreach { r =>
      assert(r.getAs[Long]("n") <= 5, r.toString)
      assert(r.getAs[Int]("maxSlot") == r.getAs[Long]("n"), r.toString)
      assert(r.getAs[Long]("maxDelay") == (r.getAs[Long]("n") - 1) * 1000L, r.toString)
    }
  }

  test("equivalence holds under skewed budgets and a disallow rule") {
    val robots = RobotsRules(Map(
      "h0.example.ir" -> HostRules(Some(500L), Some(3), Seq()),
      "h1.example.ir" -> HostRules(None, None, Seq("/opinions"))))
    val pol = PolitenessConfig(defaultBudget = 6, saltBuckets = 4)
    val (sim, eng) = runBoth(pol, robots)
    val engSched = eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    val simSched = sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet
    assert(engSched == simSched)
    // h1 details never fetched (robots disallow /opinions)
    assert(!engSched.exists { case (_, h, _, u) => h == "h1.example.ir" && u.contains("IdeaId") })
    // h0 never exceeds its robots budget of 3
    val h0 = eng.schedule.filter(col("host") === "h0.example.ir")
      .groupBy(col("round")).count().collect()
    h0.foreach(r => assert(r.getLong(1) <= 3))
  }

  test("missing pages retried exactly once (maxRetries=1) then dropped") {
    val seeds = cfg.seeds :+ s"https://h9.example.ir/search?page=1" // not in universe
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    val sim = CrawlSimulator.run(universe, seeds, RobotsRules.empty, pol, 50)
    val eng = FrontierCrawl.run(spark, pagesDf, seeds, None, RobotsRules.empty, pol, 50)
    val missing = eng.results.filter(col("status") === "missing")
      .groupBy(col("url")).count().collect()
    assert(missing.nonEmpty)
    missing.foreach(r => assert(r.getLong(1) == 2L, r.toString)) // initial + 1 retry
    val engSched = eng.schedule.select(col("round"), col("host"), col("slot"), col("url"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3))).toSet
    assert(engSched == sim.schedule.map(f => (f.round, f.host, f.slot, f.url)).toSet)
  }

  test("error pages are filtered from extraction but counted in results") {
    // denser error-page fixture (60-detail default yields ~1 expected)
    val cfgE = FixtureConfig(seed = 7L, hosts = 2, totalDetails = 40,
      errorPagePerMille = 200)
    val pagesE = FixtureGen.pages(spark, cfgE, partitions = 2).toDF()
    val eng = FrontierCrawl.run(spark, pagesE, cfgE.seeds, None,
      RobotsRules.empty, PolitenessConfig(defaultBudget = 7, saltBuckets = 4), 50)
    val nError = eng.results.filter(col("status") === "error_page").count()
    assert(nError > 0) // fixture has ~2% error pages
    val extractedUrls = eng.extracted.select("url").collect().map(_.getString(0)).toSet
    val errorUrls = eng.results.filter(col("status") === "error_page")
      .select("url").collect().map(_.getString(0)).toSet
    assert(extractedUrls.intersect(errorUrls).isEmpty)
  }

  test("resume from snapshot: killed run + restart == uninterrupted run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)

    // uninterrupted
    val full = FrontierCrawl.run(spark, pagesDf, cfg.seeds, None, RobotsRules.empty, pol, 50)
    val fullSeen = full.seenKeys.collect().map(_.getString(0)).toSet

    // phase 1: stop after 2 rounds (simulated kill)
    val store = new FrontierStore(spark, dir)
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 2)
    // orphan in-flight temp data must be ignored on resume
    val orphan = new java.io.File(s"$dir/_tmp/orphan")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("junk.json"), "{broken")

    // phase 2: resume to completion
    val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 50)
    val resumedSeen = resumed.seenKeys.collect().map(_.getString(0)).toSet
    assert(resumedSeen == fullSeen)

    // per-(round, partition) lineage metrics exist for every committed round
    val st2 = new FrontierStore(spark, dir)
    val last = st2.latest().get
    assert(last.round > 1)
    val metrics = st2.read(last, "metrics")
    assert(metrics.count() > 0)
  }

  test("failed commit: original error, no manifest, latest() kept; re-commit resumes == uninterrupted") {
    val dir = java.nio.file.Files.createTempDirectory("graft-commit-fail").toString
    val pol = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    val full = defaultRun._2
    assert(full.rounds > 3)
    val store = new FrontierStore(spark, dir)
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 2)
    val prev = store.latest().get
    assert(prev.round == 1)

    // round 2 commit in which one table's write throws on its first row
    // while the round's other tables are valid writes to the same paths
    // the engine's own commit of round 2 uses
    val boom = udf { (_: String) => throw new IllegalStateException("poisoned commit row"); 0 }
    val names = Seq("frontier", "seen_delta", "extracted", "results", "scheduled", "metrics")
    val tables = names.map(n => n -> store.read(prev, n)).toMap
    val poisoned = tables.updated("results",
      tables("results").withColumn("boom", boom(col("url"))))
    val e = intercept[Exception](store.commit(2, poisoned))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(c => Option(c.getMessage).exists(_.contains("poisoned commit row"))),
      s"original failure not surfaced: $e")
    assert(!new java.io.File(s"$dir/manifests/manifest-r00002.json").exists)
    assert(store.latest().contains(prev))

    // re-commit round 2 (the engine's own, valid tables over the partial
    // writes), then resume to completion: == the uninterrupted run
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(new FrontierStore(spark, dir)),
      RobotsRules.empty, pol, 3)
    assert(new FrontierStore(spark, dir).latest().map(_.round).contains(2))
    val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds,
      Some(new FrontierStore(spark, dir)), RobotsRules.empty, pol, 50)
    assert(resumed.seenKeys.collect().map(_.getString(0)).toSet ==
      full.seenKeys.collect().map(_.getString(0)).toSet)
    val rows = (df: org.apache.spark.sql.DataFrame) => df
      .filter(col("round") >= 3)
      .select(col("round"), col("host"), col("slot"), col("url"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(rows(resumed.schedule) == rows(full.schedule))
  }

  test("seen-part compaction: bounded manifest part list, crawl + resume unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-store").toString
    val polPlain = PolitenessConfig(defaultBudget = 7, saltBuckets = 4)
    val pol = polPlain.copy(compactSeenParts = 2)

    // ground truth: uninterrupted storeless crawl, no compaction
    val full = FrontierCrawl.run(spark, pagesDf, cfg.seeds, None, RobotsRules.empty, polPlain, 50)
    val fullSeen = full.seenKeys.collect().map(_.getString(0)).toSet

    // killed after 2 rounds + resumed, compacting whenever the prior delta
    // list reaches 2 — every round past r1 folds the list, so the crawl
    // exercises compact-on-commit and resume-from-compacted repeatedly
    val store = new FrontierStore(spark, dir)
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 2)
    val resumed = FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 50)
    val resumedSeen = resumed.seenKeys.collect().map(_.getString(0)).toSet
    assert(resumedSeen == fullSeen)

    // the manifest's part list is bounded by threshold + 1, not O(rounds),
    // and the on-disk parts alone reproduce the full seen set
    val snap = store.latest().get
    assert(snap.round > 2)
    val parts = snap.tables("seen_parts").split(";").filter(_.nonEmpty)
    assert(parts.length <= pol.compactSeenParts + 1, parts.mkString(";"))
    val diskSeen = spark.read.parquet(parts.toSeq: _*)
      .select("url_key").distinct().collect().map(_.getString(0)).toSet
    assert(diskSeen == fullSeen)

    // folded parts are GC'd from disk (round 0/1 deltas folded at round 2):
    // compaction bounds the part LIST and reclaims the folded dirs
    assert(!new java.io.File(s"$dir/rounds/r00000/seen_delta").exists,
      "folded seen_delta dir should be deleted by store.gc")
    assert(!new java.io.File(s"$dir/rounds/r00001/seen_delta").exists)

    // crash-window sweep: recreate a folded dir (simulating death between
    // a compacting commit's manifest publish and its gc), then resume —
    // the resume-time sweep reclaims it, while referenced parts survive
    val orphan = new java.io.File(s"$dir/rounds/r00000/seen_delta")
    orphan.mkdirs()
    java.nio.file.Files.writeString(orphan.toPath.resolve("junk.parquet"), "x")
    FrontierCrawl.run(spark, pagesDf, cfg.seeds, Some(store), RobotsRules.empty, pol, 50)
    assert(!orphan.exists, "resume sweep should reclaim the orphaned folded dir")
    parts.foreach { p =>
      assert(new java.io.File(p.stripPrefix("file:")).exists,
        s"referenced part $p must survive the sweep")
    }
  }

  test("latest() falls back to the legacy single-manifest layout") {
    // a store committed by the round-1-era layout (root/manifest.json, no
    // manifests/ dir) must resume from its real round — silently returning
    // None would restart from round 0 and overwrite prior round data
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy-store").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest.json"),
      s"""{"round": 3, "tables": {"frontier": "$dir/rounds/r00003/frontier"}}""")
    val store = new FrontierStore(spark, dir)
    val snap = store.latest().get
    assert(snap.round == 3)
    assert(snap.tables("frontier").endsWith("r00003/frontier"))
  }

  test("resuming a legacy store keeps its cumulative seen set") {
    // legacy manifests committed the cumulative seen set as a plain 'seen'
    // table with NO seen_parts alias; a resume reading only the alias
    // would silently drop the whole set and re-fetch every crawled URL.
    // Equivalence check: a legacy-layout resume must behave exactly like
    // a modern resume with the same seen keys — zero re-scheduled URLs.
    import spark.implicits._
    val web = FixtureConfig(seed = 7L, hosts = 4, totalDetails = 200)
    val pagesDir = java.nio.file.Files.createTempDirectory("graft-legacy-pages").toString
    FixtureGen.pages(spark, web, 4).write.mode("overwrite").parquet(pagesDir)
    val pages = spark.read.parquet(pagesDir)

    // first: a full crawl records what a complete run schedules + sees
    val full = FrontierCrawl.run(spark, pages, web.seeds, store = None)
    assert(full.rounds > 1)

    // legacy store: the full seen set under a plain 'seen' table (no
    // seen_parts alias) and a drained frontier. The resumed crawl's seen
    // VIEW must carry every legacy key — the alias-only bug loaded None
    // and reported an empty seen set (so rediscovered outlinks would all
    // pass the not-seen check and be re-fetched).
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy-resume").toString
    val seenPath = s"$dir/rounds/r9/seen"
    val frontPath = s"$dir/rounds/r9/frontier"
    full.seenKeys.select("url_key").write.parquet(seenPath)
    spark.emptyDataset[graft.model.FrontierEntry].write.parquet(frontPath)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "manifest.json"),
      s"""{"round": 9, "tables": {"frontier": "$frontPath", "seen": "$seenPath"}}""")
    val resumed = FrontierCrawl.run(spark, pages, web.seeds,
      store = Some(new FrontierStore(spark, dir)))
    val fullSeen = full.seenKeys.count()
    assert(fullSeen > 0)
    assert(resumed.seenKeys.count() == fullSeen,
      s"legacy seen set dropped on resume (${resumed.seenKeys.count()} vs $fullSeen)")
  }

  test("empty-deferred gate: bounded no-rules schedule == ungated; binding budget keeps deferred") {
    import spark.implicits._
    import graft.url.Urls
    val entries = (1 to 20).map { i =>
      val u = s"https://h${i % 3}.example/p$i"
      graft.model.FrontierEntry(Urls.sha256Hex(u), u, s"h${i % 3}.example",
        (i % 5).toDouble, 0, 0)
    }
    val frontier = spark.createDataset(entries)
    def plan(pol: PolitenessConfig, bound: Long) =
      FrontierRound.schedule(spark, frontier, RobotsRules.empty, pol,
        frontierSizeBound = bound)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("url_key", "slot", "scheduled_delay_ms").collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet

    // bound (20) ≤ budget (64): the gate PROVES deferred empty — scheduled
    // must be identical to the ungated (-1 bound) plan and the deferred
    // subtree must be a literal empty relation, not a computed filter
    val loose = PolitenessConfig(defaultBudget = 64, defaultDelayMs = 10L,
      saltBuckets = 4)
    val gated = plan(loose, bound = 20L)
    val ungated = plan(loose, bound = -1L)
    assert(rows(gated.scheduled) == rows(ungated.scheduled))
    assert(gated.deferred.isEmpty && ungated.deferred.isEmpty)
    assert(gated.deferred.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

    // bound (20) > budget (4): budgets CAN bind — the gate must stay off
    // and the deferred rows must match the ungated plan exactly
    val tight = PolitenessConfig(defaultBudget = 4, defaultDelayMs = 10L,
      saltBuckets = 4)
    val gatedTight = plan(tight, bound = 20L)
    val ungatedTight = plan(tight, bound = -1L)
    assert(rows(gatedTight.scheduled) == rows(ungatedTight.scheduled))
    val defKeys = gatedTight.deferred.collect().map(_.url_key).toSet
    assert(defKeys.nonEmpty)
    assert(defKeys == ungatedTight.deferred.collect().map(_.url_key).toSet)
  }
}
