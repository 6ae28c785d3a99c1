package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.{Crawl, CrawlConfig}
import graft.images.ImageSynth
import graft.site.PhashOutlinks

/** The fixed Spark jobs of a crawl: snapshot reads name the schema their
  * manifests carry (no Parquet footer-inference job), and round stats come
  * from the update manifest (no job at all). */
class CrawlJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** The call-site stacks (`StageInfo.details`) of every job `body` runs.
    * Marker jobs before and after fence the listener's asynchronous events:
    * the bus delivers in order, so once the closing marker is seen every
    * job of `body` is too. */
  private def jobsOf(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val events = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        events.add((desc.getOrElse(""), e.stageInfos.map(_.details).mkString("\n")))
      }
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!events.asScala.exists(_._1 == name) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(events.asScala.exists(_._1 == name), s"listener never saw $name")
    }
    sc.addSparkListener(listener)
    try {
      marker("jobs-begin")
      body
      marker("jobs-end")
    } finally sc.removeSparkListener(listener)
    val all = events.asScala.toSeq
    all.drop(all.map(_._1).indexOf("jobs-begin") + 1).takeWhile(_._1 != "jobs-end").map(_._2)
  }

  test("a crawl runs no footer-inference job for table reads and no job for round stats") {
    val nPages = 120L
    val nHosts = 4
    val conf = CrawlConfig(numPartitions = 4, topN = 0, storingContent = false,
      filterSeenNewPages = true)
    val source = PhashOutlinks(nPages, nHosts, 3)
    val seeds = Seq(ImageSynth.urlOf(0, nHosts), ImageSynth.urlOf(1, nHosts))
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 2)

    def crawl(collectStats: Boolean): Seq[String] = {
      val c = new Crawl(spark, SparkTestBase.tmpDir("crawl-jobs"), images, conf, source)
      jobsOf(c.run(2, seeds, collectStats = collectStats, compactEvery = 2))
    }
    val without = crawl(collectStats = false)
    val withStats = crawl(collectStats = true)
    assert(without.nonEmpty)
    val inference = (without ++ withStats).filter(d =>
      d.contains("DataFrameReader.parquet") && d.contains("graft.table.SnapshotTable"))
    assert(inference.isEmpty, s"footer-inference jobs under SnapshotTable reads:\n${inference.mkString("\n\n")}")
    assert(withStats.size == without.size,
      s"collectStats = true ran ${withStats.size} jobs, collectStats = false ${without.size}")
  }
}
