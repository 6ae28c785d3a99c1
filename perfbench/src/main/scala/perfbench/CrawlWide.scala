package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.crawl.{Crawl, CrawlConfig}
import graft.images.ImageSynth
import graft.jobs.{FetcherJobKeys, InjectorJob}
import graft.refsim.{RefSim, SynthUniverse}
import graft.site.PhashOutlinks

/** Crawl inputs shared by both crawl workloads: a synthetic universe of
  * `pages` pages on `hosts` hosts, its image corpus as a bucketed table. */
final class Corpus(a: Args, val pages: Long, val hosts: Int, buckets: Int) {
  val dir: String = new File(a.work, s"images-$pages-$hosts-b$buckets").getAbsolutePath
  val source: PhashOutlinks = PhashOutlinks(pages, hosts, 4)

  def urls(ids: Seq[Long]): Seq[String] = ids.map(ImageSynth.urlOf(_, hosts))

  /** Synthesize the images table once (the benchmark's own input data). */
  def synthesize(spark: SparkSession): Unit = if (!new File(dir, "_SUCCESS").exists()) {
    spark.sql("DROP TABLE IF EXISTS graft_images")
    ImageSynth.imagesDf(spark, pages, hosts, partitions = 2 * a.cores)
      .repartition(buckets, col("image_id"))
      .write.bucketBy(buckets, "image_id").option("path", dir).mode("overwrite")
      .saveAsTable("graft_images")
  }

  /** Register the bucketed files with a session's in-memory catalog. */
  def register(spark: SparkSession): Unit = {
    spark.sql("DROP TABLE IF EXISTS graft_images")
    spark.sql(
      s"""CREATE TABLE graft_images
         |(image_id string, bytes binary, w int, h int, fmt string,
         | caption string, phash bigint)
         |USING parquet CLUSTERED BY (image_id) INTO $buckets BUCKETS
         |LOCATION '$dir'""".stripMargin)
  }

  private var tables = 0
  /** A fresh table directory under the work dir. */
  def freshTable(): String = {
    tables += 1
    val d = new File(a.work, s"tables/t$tables")
    Common.deleteRecursively(d)
    d.getAbsolutePath
  }
}

/** `crawl_wide`: every page due, one generate -> fetch+parse -> update round
  * over one flat injected snapshot, at local[cores] and once at local[1]. */
object CrawlWide {

  def run(a: Args, r: Result): Unit = {
    val universe = if (a.tiny) 500L else 5000L
    val hosts = if (a.tiny) 7 else 80
    val corpus = new Corpus(a, universe, hosts, buckets = if (a.tiny) 4 else 16)
    // the seed picks which 80% of the universe is injected; outlinks to the
    // rest are discovered by the round
    val injected = new scala.util.Random(a.seed).shuffle((0L until universe).toVector)
      .take((universe * 4 / 5).toInt).sorted
    val pages = injected.size.toLong
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 2 * a.cores, topN = 0,
      storingContent = false)
    val tracer = new Tracer

    def inject(spark: SparkSession, crawl: Crawl, ids: Seq[Long]): Unit = {
      import spark.implicits._
      val seeds = spark.createDataset(corpus.urls(ids)).repartition(2 * a.cores)
      crawl.table.append(InjectorJob.inject(spark, seeds, conf, crawl.curTimeOf(0)).toDF(),
        0, "inject")
    }
    def newCrawl(spark: SparkSession): Crawl =
      new Crawl(spark, corpus.freshTable(), spark.table("graft_images"), conf, corpus.source)

    // ---- set-up, three times: session start, input registration, inject;
    // after the first, input synthesis (untimed) and one warmup round
    var spark: SparkSession = null
    var crawl: Crawl = null
    r.info("jvm_boot_s") = f"${Common.sinceJvmStart()}%.3f"
    val setups = (1 to 3).map { i =>
      val (_, tSession) = Common.time { spark = Common.session(a, a.cores) }
      if (i == 1) corpus.synthesize(spark)
      val (_, tRest) = Common.time {
        corpus.register(spark)
        crawl = newCrawl(spark)
        inject(spark, crawl, injected)
      }
      if (i == 1) {
        val (_, w) = Common.time {
          val c = newCrawl(spark)
          inject(spark, c, injected.take(300))
          c.generate(1); c.fetchAndParse(1); c.update(1)
        }
        r.named("warmup_s") = (w, "s")
      }
      tSession + tRest
    }
    r.e2e("setup_s") = (Common.median(setups), "s")
    Common.phase("setup done")

    // ---- timed rounds at local[cores], each over a freshly injected table
    val units = new Units(a, tracer)
    val fetchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val updateS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def round(s: SparkSession, c: Crawl): Unit = {
      tracer.within(s, "generate")(c.generate(1))
      fetchS += Common.time(tracer.within(s, "fetch")(c.fetchAndParse(1)))._2
      updateS += Common.time(tracer.within(s, "update")(c.update(1)))._2
    }
    val start = Common.now()
    var first = true
    while (units.more(start, minUnits = 3, maxUnits = 12)) {
      r.op("round") {
        units.run(spark) {
          if (!first) { crawl = newCrawl(spark); inject(spark, crawl, injected) }
          first = false
        }(round(spark, crawl))
      }
      Common.sampleLiveHeap()
    }
    val roundS = units.medianSeconds
    Common.phase("timed rounds done")

    // ---- correctness: order and URL-seen set equal RefSim's
    val sim = new RefSim(conf, SynthUniverse(universe, hosts), corpus.source)
    sim.inject(corpus.urls(injected))
    sim.round(1)
    val simOrder = sim.orderOf(1)
    val simSeen = sim.seenUrls
    def checkCrawl(label: String, s: SparkSession, c: Crawl): Long = {
      var order = engineOrder(s, c)
      if (a.corrupt == "url" && order.size >= 2)
        order = order.updated(0, order(1)).updated(1, order(0))
      val firstDiff = order.zip(simOrder).indexWhere { case (x, y) => x != y }
      r.check(s"$label.crawl_order", order == simOrder,
        s"engine ${order.size} vs refsim ${simOrder.size} fetches; first difference at $firstDiff")
      val seen = c.table.currentView(s).select("url").distinct().collect().map(_.getString(0)).toSet
      r.check(s"$label.url_seen_set", seen == simSeen,
        s"engine ${seen.size} vs refsim ${simSeen.size} urls; " +
          s"engine-only ${(seen -- simSeen).take(3)}, refsim-only ${(simSeen -- seen).take(3)}")
      c.table.readSnapshot(s, c.table.snapshotFor(1, "update").get).count()
    }
    val updateRows = r.op("check")(checkCrawl("local_cores", spark, crawl)).getOrElse(pages)
    Common.phase("checks done")

    // ---- the same round at local[1] (N -> 4N with N = 1), in the traced run
    // only (untraced itself): it is the run's longest step
    val oneCore = if (!a.trace) None else {
      spark = Common.session(a, 1)
      corpus.register(spark)
      crawl = newCrawl(spark)
      inject(spark, crawl, injected)
      val c = crawl
      val t = r.op("round_local1")(Common.time {
        c.generate(1); c.fetchAndParse(1); c.update(1)
      }._2)
      r.op("check")(checkCrawl("local_1", spark, crawl))
      Common.phase("local[1] done")
      t
    }
    Common.sampleLiveHeap()
    spark.stop()

    r.e2e("work_s") = (roundS, "s")
    r.e2e("heap_live_peak_mb") = (Common.liveHeapPeakMb, "MiB")
    r.named("round_urls_per_s") = (pages / roundS, "URLs/s")
    r.named("fetch_urls_per_s") = (pages / Common.median(fetchS.toSeq), "URLs/s")
    r.named("update_rows_per_s") = (updateRows / Common.median(updateS.toSeq), "rows/s")
    oneCore.foreach(t1 => r.named("scaling_eff") = (t1 / (a.cores * roundS), "ratio"))
    r.info ++= Seq("universe" -> universe.toString, "injected" -> pages.toString,
      "hosts" -> hosts.toString,
      "rounds_timed" -> units.count.toString)
    if (a.trace) r.layers ++= units.layerTable(seenPath = false)
  }

  /** The engine's crawl order of round 1: fetch rows sorted by (srcPartition,
    * fetch sequence), the normative order RefSim records. */
  def engineOrder(spark: SparkSession, c: Crawl): Seq[String] = {
    val sid = c.table.snapshotFor(1, "fetch").get
    c.table.readSnapshot(spark, sid)
      .select(col("url"), col("srcPartition"),
        col("metadata").getItem(FetcherJobKeys.FetchSeq).cast("int").as("seq"))
      .collect().toSeq
      .sortBy(row => (row.getInt(1), row.getInt(2)))
      .map(_.getString(0))
  }
}
