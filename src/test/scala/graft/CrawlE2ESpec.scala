package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.{Crawl, CrawlConfig, RoundStats}
import graft.images.ImageSynth
import graft.jobs.FetcherJobKeys
import graft.model.{CrawlStatus, Marks, WebPage}
import graft.refsim.{RefSim, SetUniverse, SynthUniverse, Universe}
import graft.site._
import graft.url.UrlUtil

/** End-to-end crawl tests mirroring the reference's multisite suite
  * (InfinispanMultiSiteNutchTest: shortCrawl :278-352, versionedCrawl
  * :210-276, verifyCrawlScore :446-531) plus politeness, robots, resume
  * and payload-invariant checks (FIXTURES.md §2, §3, §6).
  */
class CrawlE2ESpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def imagesFor(urls: Seq[String]): DataFrame =
    urls.map(u => ImageSynth.rowForUrl(u, 24, 24)).toDF()

  private val baseConf = CrawlConfig(
    fetchIntervalDefault = 0,
    numPartitions = 4,
    fetcherServerDelayMs = 100)

  private def latestPerUrl(rows: Seq[WebPage]): Map[String, WebPage] =
    rows.groupBy(_.url).map { case (u, vs) => u -> vs.maxBy(_.fetchTime) }

  test("shortCrawl: inject 1, discover 2, version on refetch (multisite shortCrawl shape)") {
    val index = "http://site1.test/index.html"
    val a = "http://site1.test/a.html"
    val b = "http://site1.test/b.html"
    val edges = Map(index -> Seq(a -> "to a", b -> "to b"))
    val urls = Seq(index, a, b)
    val dir = SparkTestBase.tmpDir("shortcrawl")
    val crawl = new Crawl(spark, dir, imagesFor(urls), baseConf,
      MapOutlinks(edges.map { case (k, v) => k -> v }))

    val stats = crawl.run(2, Seq(index))
    assert(stats(0).generated == 1)
    assert(stats(0).fetched == 1)
    assert(stats(0).newPages == 2) // a and b discovered

    assert(stats(1).generated == 3)
    assert(stats(1).fetched == 3)

    val rows = crawl.table.currentView(spark).drop("snapshot_id").as[WebPage].collect().toSeq
    // 4 physical rows: index has 2 versions after its round-2 refetch
    assert(rows.length == 4, rows.map(r => (r.url, r.key)).mkString(", "))
    val latest = latestPerUrl(rows)
    assert(latest.keySet == Set(index, a, b))
    // inlink assertions (shortCrawl :341-348 analogue)
    assert(latest(a).inlinks.keySet == Set(index))
    assert(latest(b).inlinks.keySet == Set(index))
    // distance: seeds 0, children 1
    assert(latest(a).markers(Marks.DISTANCE) == "1")
    assert(latest(index).markers(Marks.DISTANCE) == "0")
  }

  test("OPIC golden scores survive the full distributed pipeline (verifyCrawlScore)") {
    val urls = Seq("a", "b", "c", "d").map(s => s"http://opic.test/$s.html")
    val Seq(a, b, c, d) = urls
    val edges = Map(
      a -> Seq(b -> ""),
      b -> Seq(a -> "", c -> ""),
      c -> Seq(a -> "", b -> "", d -> ""),
      d -> Seq.empty[(String, String)])
    val golden = Map(
      1 -> Map(a -> 1.833, b -> 2.333, c -> 1.5, d -> 1.333),
      2 -> Map(a -> 3.5, b -> 4.666, c -> 2.666, d -> 1.833),
      3 -> Map(a -> 6.722, b -> 9.055, c -> 5.0, d -> 2.722))

    val dir = SparkTestBase.tmpDir("opic-e2e")
    val crawl = new Crawl(spark, dir, imagesFor(urls), baseConf, MapOutlinks(edges))
    crawl.inject(urls)
    (1 to 3).foreach { r =>
      crawl.generate(r); crawl.fetchAndParse(r); crawl.update(r)
      val rows = crawl.table.currentView(spark).drop("snapshot_id").as[WebPage].collect().toSeq
      val latest = latestPerUrl(rows)
      golden(r).foreach { case (url, want) =>
        val got = math.floor(latest(url).score.toDouble * 1000) / 1000
        assert(got == want, s"round $r $url: want $want got ${latest(url).score}")
      }
    }
  }

  test("politeness: per-host min gap and ordering on the virtual clock (TestFetcher analogue)") {
    val host = "http://polite.test"
    val urls = (0 until 6).map(i => s"$host/p$i.html")
    val dir = SparkTestBase.tmpDir("polite")
    val conf = baseConf.copy(fetcherServerDelayMs = 200)
    val crawl = new Crawl(spark, dir, imagesFor(urls), conf, MapOutlinks(Map.empty))
    crawl.inject(urls)
    crawl.generate(1)
    crawl.fetchAndParse(1)
    val sid = crawl.table.snapshotFor(1, "fetch").get
    val fetched = crawl.table.readSnapshot(spark, sid).drop("snapshot_id").as[WebPage]
      .collect().toSeq
    assert(fetched.length == 6)
    assert(fetched.forall(_.status == CrawlStatus.FETCHED))
    val times = fetched.map(_.fetchTime).sorted
    val gaps = times.zip(times.tail).map { case (x, y) => y - x }
    assert(gaps.forall(_ >= 200), s"per-host gap violated: $gaps")
    // span: k fetches from one host need (k-1) * delay of virtual time
    assert(times.last - times.head == 5 * 200L)
  }

  test("robots: disallow -> GONE without payload; Crawl-Delay override; over-max delay -> GONE") {
    val blocked = "http://rob.test/private/x.html"
    val open = "http://rob.test/pub/y.html"
    val slow1 = "http://slow.test/a.html"
    val slow2 = "http://slow.test/b.html"
    val tooSlow = "http://tooslow.test/a.html"
    val urls = Seq(blocked, open, slow1, slow2, tooSlow)
    val env = FetchEnv(robots = Map(
      "rob.test" -> RobotsRule("rob.test", disallow = Seq("/private")),
      "slow.test" -> RobotsRule("slow.test", crawlDelayMs = 1000),
      "tooslow.test" -> RobotsRule("tooslow.test", crawlDelayMs = 60000)))
    val dir = SparkTestBase.tmpDir("robots")
    val crawl = new Crawl(spark, dir, imagesFor(urls), baseConf, MapOutlinks(Map.empty), env)
    crawl.inject(urls)
    crawl.generate(1)
    crawl.fetchAndParse(1)
    val sid = crawl.table.snapshotFor(1, "fetch").get
    val rows = crawl.table.readSnapshot(spark, sid).drop("snapshot_id").as[WebPage]
      .collect().map(p => p.url -> p).toMap

    assert(rows(blocked).status == CrawlStatus.GONE)
    assert(rows(blocked).content == null)
    assert(rows(open).status == CrawlStatus.FETCHED)
    // Crawl-Delay 60 s > fetcher.max.crawl.delay 30 s -> GONE
    assert(rows(tooSlow).status == CrawlStatus.GONE)
    // Crawl-Delay 1 s honored between the two slow.test fetches
    val slowTimes = Seq(rows(slow1).fetchTime, rows(slow2).fetchTime).sorted
    assert(slowTimes(1) - slowTimes(0) >= 1000)
  }

  test("retry path: transient error -> RETRY then UNFETCHED with retry counter") {
    val u = "http://retry.test/x.html"
    val env = FetchEnv(transientErrors = Set(u))
    val dir = SparkTestBase.tmpDir("retry")
    val crawl = new Crawl(spark, dir, imagesFor(Seq(u)), baseConf, MapOutlinks(Map.empty), env)
    crawl.run(1, Seq(u))
    val rows = crawl.table.currentView(spark).drop("snapshot_id").as[WebPage].collect()
    val p = rows.find(_.url == u).get
    assert(p.status == CrawlStatus.UNFETCHED) // RETRY -> UNFETCHED (retries < max)
    assert(p.retriesSinceFetch == 1)
  }

  test("redirect: REDIR status, outlink to target, repr url, target discovered") {
    val src = "http://redir.test/old.html"
    val dst = "http://redir.test/new.html"
    val env = FetchEnv(redirects = Map(src -> (dst, false)))
    val dir = SparkTestBase.tmpDir("redir")
    val crawl = new Crawl(spark, dir, imagesFor(Seq(src, dst)), baseConf,
      MapOutlinks(Map.empty), env)
    crawl.run(1, Seq(src))
    val rows = crawl.table.currentView(spark).drop("snapshot_id").as[WebPage].collect()
    val p = rows.find(_.url == src).get
    assert(p.status == CrawlStatus.REDIR_PERM)
    assert(p.outlinks.contains(dst))
    // permanent redirect, non-root source: representative is the destination
    assert(p.reprUrl == dst)
    // the target was discovered as a new page
    assert(rows.exists(r => r.url == dst && r.status == CrawlStatus.UNFETCHED))
  }

  test("Spark pipeline == refsim oracle: seen set, crawl order, frontier state") {
    val nPages = 300L
    val nHosts = 7
    val conf = baseConf.copy(topN = 10, numPartitions = 4)
    val source = PhashOutlinks(nPages, nHosts, degree = 3)
    val seeds = Seq(ImageSynth.urlOf(0, nHosts), ImageSynth.urlOf(1, nHosts),
      ImageSynth.urlOf(2, nHosts))
    val depth = 3

    // oracle
    val sim = new RefSim(conf, SynthUniverse(nPages, nHosts), source)
    sim.run(depth, seeds)

    // engine
    val dir = SparkTestBase.tmpDir("parity")
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 4)
    val crawl = new Crawl(spark, dir, images, conf, source)
    crawl.run(depth, seeds, collectStats = false)

    val sparkRows = crawl.table.currentView(spark).drop("snapshot_id").as[WebPage]
      .collect().toSeq

    // URL-seen set equality
    assert(sparkRows.map(_.url).toSet == sim.seenUrls)

    // crawl-order equality per round: (partition, seq) normative order
    (1 to depth).foreach { r =>
      val sid = crawl.table.snapshotFor(r, "fetch").get
      val fetchRows = crawl.table.readSnapshot(spark, sid).drop("snapshot_id").as[WebPage]
        .collect().toSeq
      val sparkOrder = fetchRows
        .sortBy(p => (p.srcPartition, p.metadata(FetcherJobKeys.FetchSeq).toInt))
        .map(_.url)
      assert(sparkOrder == sim.orderOf(r), s"crawl order diverged in round $r")
    }

    // frontier state equality: per-key status/score/fetchTime/distance
    val simState = sim.state.values.map(p =>
      p.key -> (p.url, p.status, math.round(p.score * 10000f), p.fetchTime,
        p.markers.get(Marks.DISTANCE))).toMap
    val sparkState = sparkRows.map(p =>
      p.key -> (p.url, p.status, math.round(p.score * 10000f), p.fetchTime,
        p.markers.get(Marks.DISTANCE))).toMap
    assert(sparkState.keySet == simState.keySet)
    val diffs = sparkState.collect {
      case (k, v) if simState(k) != v => (k, v, simState(k))
    }
    assert(diffs.isEmpty, s"state diverged for ${diffs.take(5)}")
  }

  test("resume from snapshot: crash after round 2 continues to the round-3 state") {
    val nPages = 120L
    val nHosts = 5
    val conf = baseConf.copy(topN = 8, numPartitions = 4)
    val source = PhashOutlinks(nPages, nHosts, degree = 2)
    val seeds = Seq(ImageSynth.urlOf(0, nHosts))
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 4)

    def finalState(dir: String): Map[String, (Int, Long, Long)] = {
      new graft.table.SnapshotTable(dir).currentView(spark).drop("snapshot_id").as[WebPage]
        .collect().map(p => p.key -> (p.status, math.round(p.score * 10000f).toLong, p.fetchTime))
        .toMap
    }

    val dirA = SparkTestBase.tmpDir("resumeA")
    new Crawl(spark, dirA, images, conf, source).run(3, seeds, collectStats = false)

    val dirB = SparkTestBase.tmpDir("resumeB")
    new Crawl(spark, dirB, images, conf, source).run(2, seeds, collectStats = false)
    // "restart": a fresh driver over the same table path
    val resumed = new Crawl(spark, dirB, images, conf, source)
    val before = resumed.table.snapshots.size
    resumed.run(3, seeds, collectStats = false)
    val after = resumed.table.snapshots.size
    assert(after == before + 3, "resume must only run the missing round") // generate+fetch+update

    assert(finalState(dirA) == finalState(dirB))
  }

  test("resume walks past a foreign snapshot (offline rescore between stages)") {
    val nPages = 120L
    val nHosts = 5
    val conf = baseConf.copy(topN = 8, numPartitions = 4)
    val source = PhashOutlinks(nPages, nHosts, degree = 2)
    val seeds = Seq(ImageSynth.urlOf(0, nHosts))
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 4)

    val dir = SparkTestBase.tmpDir("resumeForeign")
    val c = new Crawl(spark, dir, images, conf, source)
    c.run(2, seeds, collectStats = false)
    // crash mid-round-3 (generate committed) with an offline LINKRANK
    // write-back appended after it — the foreign head must NOT read as
    // "round 3 done" on resume, or fetch/update are silently dropped
    c.generate(3)
    c.table.append(c.table.currentView(spark).drop("snapshot_id"), 3, "linkrank")
    val resumed = new Crawl(spark, dir, images, conf, source)
    resumed.run(3, seeds, collectStats = false)
    val stages = resumed.table.snapshots.map(s => (s.round, s.stage))
    assert(stages.count(_ == (3, "generate")) == 1, "generate(3) must not re-run")
    assert(stages.contains((3, "fetch")) && stages.contains((3, "update")),
      s"round 3 must complete past the foreign snapshot: $stages")
  }

  /** A round's stats by the round-2 formula: the full resolved view,
    * evaluated right after the round. */
  private def viewStats(crawl: Crawl, r: Int): RoundStats = {
    val view = crawl.table.currentView(spark).drop("snapshot_id").as[WebPage].collect().toSeq
    val batchId = crawl.batchIdOf(r)
    val batch = view.filter(_.markers.get(Marks.GENERATE).contains(batchId))
    val byStatus = batch.groupBy(_.status).view.mapValues(_.size.toLong).toMap
    RoundStats(r,
      generated = byStatus.values.sum,
      fetched = byStatus.getOrElse(CrawlStatus.FETCHED, 0L) +
        byStatus.getOrElse(CrawlStatus.NOTMODIFIED, 0L),
      gone = byStatus.getOrElse(CrawlStatus.GONE, 0L),
      redirected = byStatus.getOrElse(CrawlStatus.REDIR_TEMP, 0L) +
        byStatus.getOrElse(CrawlStatus.REDIR_PERM, 0L),
      retried = byStatus.getOrElse(CrawlStatus.RETRY, 0L) +
        byStatus.getOrElse(CrawlStatus.UNFETCHED, 0L),
      updated = view.count(p => p.markers.get(Marks.UPDATEDB).contains(batchId)).toLong,
      newPages = view.count(p => p.round == r &&
        !p.markers.contains(Marks.GENERATE) && !p.markers.contains(Marks.INJECT)).toLong)
  }

  test("statsOf reads the round's update delta and equals the view-derived stats") {
    val nPages = 150L
    val nHosts = 5
    val source = PhashOutlinks(nPages, nHosts, degree = 3)
    val seeds = Seq(ImageSynth.urlOf(0, nHosts), ImageSynth.urlOf(1, nHosts))
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 4)
    Seq(false, true).foreach { seenPath =>
      val conf = baseConf.copy(topN = 10, numPartitions = 4, filterSeenNewPages = seenPath)
      val dir = SparkTestBase.tmpDir("stats-delta")
      val crawl = new Crawl(spark, dir, images, conf, source)
      crawl.inject(seeds)
      // per round: the observed stats the update manifest carries equal
      // the view-derived ones
      val stats = (1 to 3).map { r =>
        crawl.generate(r); crawl.fetchAndParse(r); crawl.update(r)
        val st = crawl.statsOf(r)
        assert(crawl.table.snapshotOf(r, "update").exists(_.metrics.size == 7),
          s"round $r update manifest lacks its observed metrics (seen path $seenPath)")
        assert(st == viewStats(crawl, r),
          s"round $r delta stats diverge from view stats (seen path $seenPath)")
        // sanity: the rounds did real work
        assert(st.generated > 0 && st.fetched > 0)
        st
      }
      // a fresh instance resumes round 4 and reads rounds 1-3 off the manifests
      val resumed = new Crawl(spark, dir, images, conf, source)
      val all = resumed.run(4, seeds)
      assert(all.take(3) == stats, s"seen path $seenPath")
      assert(all(3) == viewStats(resumed, 4), s"seen path $seenPath")
      // a manifest without metrics (written before they existed) recounts
      // the same stats from its delta
      val uid = resumed.table.snapshotFor(1, "update").get
      val m = new java.io.File(dir, s"snapshots/$uid.json")
      new java.io.File(dir, s"snapshots/.$uid.json.crc").delete()
      val src = scala.io.Source.fromFile(m)
      val json = try src.mkString finally src.close()
      val stripped = json.replaceAll(",\"metrics\":\\{[^}]*\\}", "")
      assert(stripped != json)
      java.nio.file.Files.write(m.toPath, stripped.getBytes("UTF-8"))
      assert(resumed.table.snapshotOf(1, "update").exists(_.metrics.isEmpty))
      assert(resumed.statsOf(1) == stats.head, s"seen path $seenPath")
    }
  }

  test("incremental seen bank: one full build, O(delta) adds, checkpoint resume (C10 integration)") {
    val nPages = 200L
    val nHosts = 5
    val conf = baseConf.copy(topN = 8, numPartitions = 4, filterSeenNewPages = true)
    val source = PhashOutlinks(nPages, nHosts, degree = 3)
    val seeds = Seq(ImageSynth.urlOf(0, nHosts), ImageSynth.urlOf(1, nHosts))
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 4)

    def state(dir: String): Map[String, (String, Int, Int, Long)] =
      new graft.table.SnapshotTable(dir).currentView(spark).drop("snapshot_id").as[WebPage]
        .collect()
        .map(p => p.key -> (p.url, p.status, math.round(p.score * 10000f), p.fetchTime))
        .toMap

    // uninterrupted 4-round run: the bank is built from a key scan exactly
    // once, then maintained with per-round delta adds
    val dirA = SparkTestBase.tmpDir("seenbankA")
    val a = new Crawl(spark, dirA, images, conf, source)
    a.run(4, seeds, collectStats = false)
    assert(a.seenFullBuilds == 1, "exactly one full key-scan build over the whole crawl")
    assert(a.seenDeltaAddBatches >= 4,
      s"rounds after the build must add deltas incrementally (got ${a.seenDeltaAddBatches})")

    // kill after round 2, resume with a FRESH driver instance: the bank
    // loads from its checkpoint (zero full builds) and the final frontier
    // state is byte-identical to the uninterrupted run
    val dirB = SparkTestBase.tmpDir("seenbankB")
    new Crawl(spark, dirB, images, conf, source).run(2, seeds, collectStats = false)
    val resumed = new Crawl(spark, dirB, images, conf, source)
    resumed.run(4, seeds, collectStats = false)
    assert(resumed.seenFullBuilds == 0, "resume must load the checkpointed bank, not rebuild")
    assert(resumed.seenDeltaAddBatches >= 2)
    assert(state(dirA) == state(dirB), "resumed frontier must equal the uninterrupted run")

    // crash-damaged checkpoint: garbage in every bank file must degrade the
    // next resume to exactly ONE rebuild (the bank is always recoverable
    // from the store) — never a wedged crawl — with identical final state
    val dirC = SparkTestBase.tmpDir("seenbankC")
    new Crawl(spark, dirC, images, conf, source).run(2, seeds, collectStats = false)
    val seenDir = new org.apache.hadoop.fs.Path(s"$dirC/_seen")
    val fs = seenDir.getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.listStatus(seenDir).filter(_.getPath.getName.startsWith("bank")).foreach { st =>
      val out = fs.create(st.getPath, true)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
    }
    val healed = new Crawl(spark, dirC, images, conf, source)
    healed.run(4, seeds, collectStats = false)
    assert(healed.seenFullBuilds == 1,
      "a corrupt checkpoint must trigger exactly one rebuild, not a crash")
    assert(state(dirA) == state(dirC), "healed frontier must equal the uninterrupted run")
  }

  test("payload invariant: decoded pixels exact (PSNR=inf) + caption equality (input_hint B23)") {
    val nHosts = 3
    val urls = (0 until 9).map(i => ImageSynth.urlOf(i, nHosts))
    val dir = SparkTestBase.tmpDir("payload")
    val images = ImageSynth.imagesDf(spark, 9, nHosts, partitions = 2)
    val crawl = new Crawl(spark, dir, images, baseConf, PhashOutlinks(9, nHosts, 2))
    crawl.inject(urls)
    crawl.generate(1)
    crawl.fetchAndParse(1)
    val sid = crawl.table.snapshotFor(1, "fetch").get
    val fetched = crawl.table.readSnapshot(spark, sid).drop("snapshot_id").as[WebPage].collect()
    assert(fetched.length == 9)
    fetched.foreach { p =>
      assert(p.content != null, s"${p.url} has no payload")
      val (decoded, w, h) = ImageSynth.decodeRgb(p.content)
      val reference = ImageSynth.pixelsFor(p.url, w, h)
      val db = ImageSynth.psnr(decoded, reference)
      assert(db.isPosInfinity, s"${p.url}: PSNR $db < exact for lossless png")
      val wantCaption = ImageSynth.captionFor(p.url, ImageSynth.phashOf(reference))
      assert(p.text == wantCaption, s"caption mismatch for ${p.url}")
      assert(p.metadata("caption") == wantCaption)
    }
  }

  test("salted repartition moves the hot host across rounds (hot-host skew, FetcherJob.java:69-75)") {
    val hot = "http://hot-host.example/x.html"
    val parts = (1 to 6).map(r =>
      graft.url.UrlPartitioner.getPartition(hot, 32, seed = r))
    assert(parts.distinct.size > 1, s"hot host pinned to ${parts.head} for all seeds")
  }
}
