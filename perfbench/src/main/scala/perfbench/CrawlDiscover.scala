package perfbench

import org.apache.spark.sql.SparkSession

import graft.crawl.{Crawl, CrawlConfig}
import graft.refsim.{RefSim, SynthUniverse}
import graft.seen.BloomSeen
import graft.url.UrlUtil

/** `crawl_discover`: `Crawl.run` from a few seed pages with the URL-seen
  * path on and the default fetch interval, so every round fetches only the
  * pages the previous round discovered. */
object CrawlDiscover {

  def run(a: Args, r: Result): Unit = {
    val pages = if (a.tiny) 300L else 3000L
    val hosts = if (a.tiny) 7 else 60
    val depth = 3
    val compactEvery = 2
    val corpus = new Corpus(a, pages, hosts, buckets = if (a.tiny) 4 else 8)
    val conf = CrawlConfig(numPartitions = 2 * a.cores, topN = 0, storingContent = false,
      filterSeenNewPages = true)
    // the seed picks the crawl's seed pages
    val rng = new scala.util.Random(a.seed)
    val seeds = corpus.urls(Seq.fill(5)(math.floorMod(rng.nextLong(), pages)).distinct)
    val tracer = new Tracer

    def newCrawl(spark: SparkSession): Crawl =
      new Crawl(spark, corpus.freshTable(), spark.table("graft_images"), conf, corpus.source)

    // ---- set-up, three times: session start, input registration and the
    // seed inject into the first crawl's table; after the first, input
    // synthesis (untimed) and one warmup crawl of one round
    var spark: SparkSession = null
    var crawl: Crawl = null
    r.info("jvm_boot_s") = f"${Common.sinceJvmStart()}%.3f"
    val setups = (1 to 3).map { i =>
      val (_, tSession) = Common.time { spark = Common.session(a, a.cores) }
      if (i == 1) corpus.synthesize(spark)
      val (_, tRest) = Common.time {
        corpus.register(spark)
        crawl = newCrawl(spark)
        crawl.inject(seeds)
      }
      if (i == 1) {
        val (_, w) = Common.time {
          newCrawl(spark).run(1, seeds, collectStats = true, compactEvery = 1)
        }
        r.named("warmup_s") = (w, "s")
      }
      tSession + tRest
    }
    r.e2e("setup_s") = (Common.median(setups), "s")
    Common.phase("setup done")

    // ---- timed crawls, each into a fresh table
    val units = new Units(a, tracer)
    val start = Common.now()
    var first = true
    while (units.more(start, minUnits = 1, maxUnits = 10)) {
      r.op("crawl") {
        // every timed crawl starts from an injected table (Crawl.run resumes
        // after the inject stage)
        units.run(spark) {
          if (!first) { crawl = newCrawl(spark); crawl.inject(seeds) }
          first = false
        } {
          tracer.within(spark, "crawl") {
            crawl.run(depth, seeds, collectStats = true, compactEvery = compactEvery)
          }
        }
      }
      Common.sampleLiveHeap()
    }
    val crawlS = units.medianSeconds
    Common.phase("timed crawls done")

    // ---- correctness: URL-seen set equals RefSim's; every key is in the bank
    val sim = new RefSim(conf, SynthUniverse(pages, hosts), corpus.source)
    sim.run(depth, seeds)
    val simSeen = sim.seenUrls
    val view = crawl.table.currentView(spark)
    var seen = view.select("url").distinct().collect().map(_.getString(0)).toSet
    if (a.corrupt == "url" && seen.nonEmpty) seen = seen - seen.head + "http://corrupt.example/x"
    r.check("url_seen_set", seen == simSeen,
      s"engine ${seen.size} vs refsim ${simSeen.size} urls; " +
        s"engine-only ${(seen -- simSeen).take(3)}, refsim-only ${(simSeen -- seen).take(3)}")
    val bank = r.op("load_bank")(loadBank(crawl))
    val keys = view.select("key").collect().map(_.getString(0))
    bank.foreach { b =>
      val missing = keys.count(k => !b.mightContain(k))
      r.check("keys_in_bank", missing == 0, s"$missing of ${keys.length} table keys probe negative")
    }
    Common.sampleLiveHeap()

    Common.phase("checks done")
    r.e2e("work_s") = (crawlS, "s")
    r.e2e("heap_live_peak_mb") = (Common.liveHeapPeakMb, "MiB")
    r.named("crawl_s") = (crawlS, "s")
    r.info ++= Seq("pages" -> pages.toString, "hosts" -> hosts.toString,
      "depth" -> depth.toString, "seen_urls" -> seen.size.toString,
      "crawls_timed" -> units.count.toString)
    if (a.trace) {
      r.layers ++= units.layerTable(seenPath = true)
      bank.foreach { b =>
        r.layers("seen_bank.bytes") = b.parts.map(_.numBits / 8.0).sum
        // positives over the universe's keys, and over keys never crawled
        val universe = corpus.urls(0L until pages).map(UrlUtil.uuid3)
        r.layers("seen_bank.positive_ratio") =
          universe.count(b.mightContain).toDouble / universe.size
        val absent = (0 until 100000).map(i => UrlUtil.uuid3(s"http://absent-$i.example/p.html"))
        r.layers("seen_bank.fpp_measured") = absent.count(b.mightContain).toDouble / absent.size
      }
    }
    spark.stop()
  }

  /** The bank the crawl checkpointed next to its table (`_seen/STATE`
    * names the version). */
  private def loadBank(c: Crawl): BloomSeen = {
    val dir = new java.io.File(c.table.path, "_seen")
    val state = scala.io.Source.fromFile(new java.io.File(dir, "STATE"))
    val id = try state.mkString.trim finally state.close()
    BloomSeen.load(new java.io.File(dir, s"bank.$id").getAbsolutePath)
  }
}
