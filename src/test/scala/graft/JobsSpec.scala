package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.{Crawl, CrawlConfig}
import graft.images.ImageSynth
import graft.jobs.{HostDbJob, IndexerJob, InjectorJob, ReadDbJob}
import graft.model.{CrawlStatus, WebPage}
import graft.site.{PhashOutlinks, SyntheticProtocol}

/** Coverage for the remaining SURVEY.md §2 operator rows: readdb stats/dump
  * (C8/A7), hostdb (C9), indexer sink (A9), seed-file scan (A1), protocol
  * trait (A11/H), truncate (A10), fetch timelimit (E5), explain-plan
  * pushdown evidence (§4).
  */
class JobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private lazy val crawled: Crawl = {
    val dir = SparkTestBase.tmpDir("jobs-crawl")
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 4, fetcherServerDelayMs = 10)
    val images = ImageSynth.imagesDf(spark, 60, 5, partitions = 2)
    val crawl = new Crawl(spark, dir, images, conf, PhashOutlinks(60, 5, 3))
    crawl.run(2, (0 until 5).map(i => ImageSynth.urlOf(i, 5)), collectStats = false)
    crawl
  }

  test("readdb: stats, status counts, retry histogram, dump, point lookup") {
    val pages = crawled.table.currentView(spark).drop("snapshot_id")
    val stats = ReadDbJob.stats(pages).collect().head
    assert(stats.getLong(0) > 0)
    assert(stats.getFloat(2) >= stats.getFloat(1)) // max >= min score
    val counts = ReadDbJob.statusCounts(pages).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse(CrawlStatus.FETCHED, 0L) > 0)
    assert(ReadDbJob.retryHistogram(pages).collect().nonEmpty)
    val dump = ReadDbJob.dump(pages, Some("page-1\\d\\.html"))
      .select("url").as[String].collect()
    assert(dump.nonEmpty && dump.forall(_.matches(".*page-1\\d\\.html")))
    val u = ImageSynth.urlOf(0, 5)
    val hit = ReadDbJob.byUrl(pages, u).select("url").as[String].collect()
    assert(hit.contains(u))
  }

  test("hostdb aggregates per reversed host") {
    val pages = crawled.table.currentView(spark).drop("snapshot_id")
    val hosts = HostDbJob.hostStats(spark, pages).collect()
    assert(hosts.length == 5)
    assert(hosts.forall(_.getString(0).startsWith("example.")))
    assert(hosts.map(_.getLong(1)).sum >= 30) // a solid chunk of the universe discovered
  }

  test("indexer sink: parsed pages become docs with dampened boost") {
    val pages = crawled.table.currentView(spark).drop("snapshot_id")
    val docs = IndexerJob.buildDocs(pages).collect()
    assert(docs.nonEmpty)
    docs.foreach { d =>
      assert(d.getAs[String]("text") != null)
      assert(d.getAs[Double]("boost") > 0)
      assert(d.getAs[String]("signature").nonEmpty)
    }
  }

  test("indexing filter chain (H): a custom filter adds a column, built-ins compose, no IndexerJob edits") {
    import org.apache.spark.sql.functions._
    val pages = crawled.table.currentView(spark).drop("snapshot_id")
    // custom filter in the reference tld-plugin shape: adds the url's TLD
    val tldFilter = new graft.jobs.IndexingFilter {
      val name = "tld"
      def apply(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        docs.withColumn("tld", element_at(split(col("url"), "\\."), -1))
    }
    val docs = IndexerJob.buildDocs(pages,
      extraFilters = Seq(graft.jobs.MoreIndexingFilter(), tldFilter))
    // canonical columns unchanged, extras appended after them
    val cols = docs.columns.toSeq
    assert(cols.take(11) == Seq("doc_key", "url", "title", "text", "anchors",
      "content_type", "fetch_time", "signature", "boost", "batch_id", "round"))
    assert(cols.contains("tld") && cols.contains("content_length"))
    val rows = docs.collect()
    assert(rows.nonEmpty)
    rows.foreach { d =>
      assert(d.getAs[String]("tld").nonEmpty)
      assert(d.getAs[Double]("boost") > 0)
    }
    // the default chain's output is unaffected by the existence of extras
    assert(IndexerJob.buildDocs(pages).columns.toSeq ==
      Seq("doc_key", "url", "title", "text", "anchors", "content_type",
        "fetch_time", "signature", "boost", "batch_id", "round"))
  }

  test("hostinject + readhostdb: reversed keys, k=v metadata, deterministic merge") {
    val lines = spark.createDataset(Seq(
      "www.example.com\tcrawl.budget=50\tnote=primary",
      "http://news.example.co.uk/some/path",   // full url: host extracted
      "   ",                                   // blank: skipped
      "www.example.com\tnote=secondary",       // dup host: lexicographic-max value wins
      "http://\tk=v",                          // no host parseable: line skipped
      "malformed-no-meta\tjunkwithoutequals")) // meta without '=': skipped
    val hosts = graft.jobs.HostDbJob.injectHosts(spark, lines)
      .collect().map(r => r.getString(0) -> r.getMap[String, String](1)).toMap
    assert(hosts.keySet == Set("com.example.www", "uk.co.example.news", "malformed-no-meta"))
    assert(hosts("com.example.www")("crawl.budget") == "50")
    // "secondary" > "primary" lexicographically -> deterministic winner
    assert(hosts("com.example.www")("note") == "secondary")
    assert(hosts("malformed-no-meta").isEmpty)

    val df = graft.jobs.HostDbJob.injectHosts(spark, lines)
    val dump = graft.jobs.HostDbJob.readHostDb(df)
      .select("host", "host_key").collect().map(r => (r.getString(0), r.getString(1)))
    assert(dump.contains(("www.example.com", "com.example.www")))
    val one = graft.jobs.HostDbJob.readHostDb(df, Some("uk.co.example.news")).collect()
    assert(one.length == 1 && one.head.getAs[String]("host") == "news.example.co.uk")

    // incremental hostinject is an UPSERT (HostInjectorJob semantics): a
    // second injection merges into the existing db, never replaces it
    val second = graft.jobs.HostDbJob.injectHosts(spark, spark.createDataset(Seq(
      "www.example.com\tcrawl.budget=90",  // existing host: metadata merges
      "new.example.net\tfresh=yes")))      // new host: appended
    val merged = graft.jobs.HostDbJob.mergeHosts(df, second)
      .collect().map(r => r.getString(0) -> r.getMap[String, String](1)).toMap
    assert(merged.keySet ==
      Set("com.example.www", "uk.co.example.news", "malformed-no-meta", "net.example.new"))
    assert(merged("com.example.www")("crawl.budget") == "90") // "90" > "50"
    assert(merged("com.example.www")("note") == "secondary")  // carried over
    assert(merged("net.example.new")("fresh") == "yes")
  }

  test("seed-file scan (A1): inject from a text file with metadata") {
    val f = java.nio.file.Files.createTempFile("seeds", ".txt")
    java.nio.file.Files.writeString(f,
      """http://seeds.test/a.html
        |# a comment
        |http://seeds.test/b.html	nutch.score=2.5	nutch.fetchInterval=60	userType=open_source
        |""".stripMargin)
    val rows = InjectorJob.injectFromFile(spark, f.toString,
      CrawlConfig(), 1000L).collect().sortBy(_.url)
    assert(rows.length == 2)
    assert(rows(1).score == 2.5f && rows(1).fetchInterval == 60)
    assert(rows(1).metadata("userType") == "open_source")
    assert(rows(0).score == 1.0f) // db.score.injected default
  }

  test("protocol trait (A11): synthetic protocol fetches and 404s") {
    val p = SyntheticProtocol(10, 2)
    val (ok, img) = p.fetch(ImageSynth.urlOf(3, 2), WebPage.forUrl(ImageSynth.urlOf(3, 2)))
    assert(ok == graft.model.ProtocolStatusCodes.SUCCESS && img.isDefined)
    val (nf, none) = p.fetch("http://host-0.example/page-99.html", WebPage.forUrl("x"))
    assert(nf == graft.model.ProtocolStatusCodes.NOTFOUND && none.isEmpty)
  }

  test("fetch timelimit (E5): over-budget items drop and stay due") {
    val urls = (0 until 8).map(i => s"http://one.test/p$i.html")
    val dir = SparkTestBase.tmpDir("timelimit")
    // one host, delay 100ms, limit 350ms -> items at t=0,100,200,300 fetch; rest drop
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 2,
      fetcherServerDelayMs = 100, fetcherTimelimitMs = 350)
    val images = urls.map(u => ImageSynth.rowForUrl(u, 16, 16)).toDF()
    val crawl = new Crawl(spark, dir, images, conf, graft.site.MapOutlinks(Map.empty))
    crawl.inject(urls)
    crawl.generate(1)
    crawl.fetchAndParse(1)
    val sid = crawl.table.snapshotFor(1, "fetch").get
    val fetched = crawl.table.readSnapshot(spark, sid).drop("snapshot_id").as[WebPage].collect()
    assert(fetched.length == 4, s"expected 4 fetched under the timelimit, got ${fetched.length}")
    // the dropped ones are still generated (due next round)
    val all = crawl.table.currentView(spark).drop("snapshot_id").as[WebPage].collect()
    assert(all.count(_.status == CrawlStatus.UNFETCHED) == 4)
  }

  test("linkdb: edge table + FrontierJob putIfAbsent seeding") {
    import graft.jobs.LinkDb
    val pages = crawled.table.currentView(spark).drop("snapshot_id").as[WebPage]
    val edges = LinkDb.edges(spark, pages).cache()
    val expectedEdges = pages.collect().map(_.outlinks.size).sum
    assert(edges.count() == expectedEdges && expectedEdges > 0)
    // edge keys are the target's storage key (join-compatible with frontier)
    val e0 = edges.head()
    assert(e0.key == graft.url.UrlUtil.uuid3(e0.out))
    // inlink aggregates
    val stats = LinkDb.inlinkStats(edges).collect()
    assert(stats.nonEmpty && stats.forall(_.getAs[Long]("n_inlinks") > 0))
    // frontier: an edge to an existing url creates nothing; to a new url,
    // exactly one UNFETCHED row regardless of duplicate edges
    val existing = pages
    val known = pages.head().url
    val fresh = "http://frontier.test/new-page.html"
    val seedEdges = Seq(
      WebPage(url = "http://frontier.test/src1.html",
        outlinks = Map(known -> "a", fresh -> "b")),
      WebPage(url = "http://frontier.test/src2.html",
        outlinks = Map(fresh -> "b2"))).toDS()
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 4)
    val newRows = LinkDb.frontier(spark, LinkDb.edges(spark, seedEdges),
      existing, conf, 1234L).collect()
    assert(newRows.length == 1)
    assert(newRows.head.url == fresh)
    assert(newRows.head.status == CrawlStatus.UNFETCHED)
    assert(newRows.head.key == graft.url.UrlUtil.uuid3(fresh))
    assert(newRows.head.score == 1.0f)
    // seen-fronted path: result identical to the exact anti-join (bloom
    // negatives skip the store join; positives still confirm exactly)
    val bank = graft.seen.BloomSeen.build(
      existing.map(_.key).rdd, numParts = 2, expectedItems = 1000, fpp = 0.01)
    val fronted = LinkDb.frontier(spark, LinkDb.edges(spark, seedEdges),
      existing, conf, 1234L, seen = Some(bank)).collect()
    assert(fronted.map(_.url).toSeq == Seq(fresh))
    // broadcast gate: when the bloom-positive maybe-set outgrows the
    // broadcast budget (threshold 0 forces it), the seen path falls back
    // to the plain shuffled anti-join — identical result at any size
    val gated = LinkDb.frontier(spark, LinkDb.edges(spark, seedEdges),
      existing, conf, 1234L, seen = Some(bank), broadcastMaxKeys = 0L).collect()
    assert(gated.map(_.url).toSeq == Seq(fresh))
    edges.unpersist()
  }

  test("db.update.max.newpages caps new-page creation per partition, merges unaffected") {
    import graft.jobs.DbUpdateJob
    import graft.model.Marks
    // one generated page linking to 20 new urls on one host (one partition)
    val outs = (0 until 20).map(i => s"http://cap.test/n$i.html" -> s"a$i").toMap
    val src = WebPage(url = "http://cap.test/seed.html",
      key = graft.url.UrlUtil.uuid3("http://cap.test/seed.html"),
      status = CrawlStatus.FETCHED, fetchTime = 1000L, cash = 1.0f, score = 1.0f,
      outlinks = outs,
      markers = Map(Marks.GENERATE -> "b-1", Marks.DISTANCE -> "0"))
    val conf = CrawlConfig(numPartitions = 1, maxNewPages = 5)
    val out = DbUpdateJob.update(spark, Seq(src).toDS(), conf, 2000L, 1).collect()
    val newPages = out.filter(p => !p.markers.contains(Marks.GENERATE))
    assert(newPages.length == 5, s"cap 5 but created ${newPages.length}")
    // the generated page itself (a merge, not a new page) always survives
    assert(out.exists(_.url == "http://cap.test/seed.html"))
    // unlimited (0) creates all 20
    val outAll = DbUpdateJob.update(spark, Seq(src).toDS(),
      conf.copy(maxNewPages = 0), 2000L, 1).collect()
    assert(outAll.count(p => !p.markers.contains(Marks.GENERATE)) == 20)
  }

  test("truncate (A10): drop removes the table") {
    val dir = SparkTestBase.tmpDir("drop-table")
    val t = new graft.table.SnapshotTable(dir)
    t.append(Seq(("k", 1)).toDF("key", "v"), 0, "inject")
    assert(t.exists)
    t.drop()
    assert(!t.exists)
  }

  test("explain: predicate pushdown and column pruning reach the parquet scan (§4)") {
    val df = Queries.all("q_scan_filter_agg")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(l_discount"),
      s"filter not pushed down:\n$plan")
    assert(!plan.contains("l_orderkey"), "column pruning failed: unused column in scan")
    assert(plan.contains("ReadSchema: struct<l_quantity"), "scan should read only needed columns")
  }

  test("explain: no ScalaUDF in the bloom probe or hostdb plans (§4)") {
    val bloomPlan = Queries.all("q_bloom_seen")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!bloomPlan.contains("ScalaUDF"), s"UDF in bloom probe plan:\n$bloomPlan")
    assert(bloomPlan.contains("graft_seen_contains"), "native probe expression missing")
    val pages = crawled.table.currentView(spark).drop("snapshot_id")
    val hostPlan = HostDbJob.hostStats(spark, pages)
      .queryExecution.executedPlan.toString
    assert(!hostPlan.contains("ScalaUDF"), s"UDF in hostdb plan:\n$hostPlan")
    assert(hostPlan.contains("graft_reverse_host"), "native reverse-host expression missing")
  }

  test("explain: small dims broadcast in q_dim_join") {
    val df = Queries.all("q_dim_join")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"dims should broadcast:\n$plan")
  }

  test("explain: near-dup pair mining is bucket-bounded, never a cartesian product") {
    val df = Queries.all("q_embed_neardup")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"near-dup candidates must come from the (tbl,bucket) equi-join:\n$plan")
    // exact-cosine confirm runs on the candidate join output, not a self-scan
    assert(plan.contains("Join") || plan.contains("join"), "candidate join missing")
  }

  test("explain: linkdb aggregation prunes to the columns it needs") {
    val df = Queries.all("q_linkdb_inlinks")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id"), s"scan should read doc_id only:\n$plan")
    assert(!plan.contains("text"), "unused text column read by linkdb scan")
  }

  test("explain: seen-fronted frontier never exchanges or sorts the full store") {
    import graft.jobs.LinkDb
    import graft.model.WebPage
    val pages = crawled.table.currentView(spark).drop("snapshot_id").as[WebPage]
    val bank = graft.seen.BloomSeen.build(
      pages.map(_.key).rdd, numParts = 2, expectedItems = 1000, fpp = 0.01)
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 4)
    def planOf(targets: String*): String = {
      val seedEdges = Seq(WebPage(url = "http://frontier.test/src1.html",
        outlinks = targets.map(_ -> "a").toMap)).toDS()
      LinkDb.frontier(spark, LinkDb.edges(spark, seedEdges),
        pages, conf, 1234L, seen = Some(bank))
        .queryExecution.executedPlan.toString
    }
    // no bloom positive among the targets: the store is not joined at all
    val unseen = planOf("http://frontier.test/new.html")
    assert(!unseen.contains("SortMergeJoin"),
      s"frontier seen path must not shuffle the store:\n$unseen")
    // a link to a stored page is a bloom positive: both store probes are
    // broadcast joins (pruned-probe semi + delta confirm): a SortMergeJoin
    // or a distinct aggregate on the store key column would mean the
    // 10^10-row side rides an Exchange again
    val plan = planOf("http://frontier.test/new.html", pages.head().url)
    assert(!plan.contains("SortMergeJoin"),
      s"frontier seen path must not shuffle the store:\n$plan")
    assert(plan.contains("LeftSemi"), s"pruned-probe semi join missing:\n$plan")
    assert(plan.contains("LeftAnti"), s"exact confirm anti join missing:\n$plan")
  }
}
