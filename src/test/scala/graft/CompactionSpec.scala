package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.{Crawl, CrawlConfig}
import graft.images.ImageSynth
import graft.model.WebPage
import graft.site.PhashOutlinks

/** Compaction must be invisible to semantics: a crawl that compacts every
  * round ends in exactly the state of one that never compacts, while
  * bounding the snapshot chain a read has to merge.
  */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("compact-every-round crawl equals never-compacted crawl") {
    val nPages = 80L
    val nHosts = 4
    val conf = CrawlConfig(fetchIntervalDefault = 0, numPartitions = 2,
      fetcherServerDelayMs = 10, topN = 6)
    val source = PhashOutlinks(nPages, nHosts, 2)
    val seeds = Seq(ImageSynth.urlOf(0, nHosts))
    val images = ImageSynth.imagesDf(spark, nPages, nHosts, partitions = 2)

    def state(dir: String): Map[String, (String, Int, Long, Long)] =
      new graft.table.SnapshotTable(dir).currentView(spark).drop("snapshot_id")
        .as[WebPage].collect()
        .map(p => p.key -> (p.url, p.status, math.round(p.score * 10000f).toLong, p.fetchTime))
        .toMap

    val plainDir = SparkTestBase.tmpDir("compact-plain")
    new Crawl(spark, plainDir, images, conf, source).run(3, seeds, collectStats = false)

    val compactDir = SparkTestBase.tmpDir("compact-every")
    val compacted = new Crawl(spark, compactDir, images, conf, source)
    compacted.run(3, seeds, collectStats = false, compactEvery = 1)

    assert(state(plainDir) == state(compactDir))
    // the compacted table's read chain is bounded by the last base snapshot
    val t = compacted.table
    val lastBase = t.snapshots.filter(_.base).map(_.id).max
    assert(lastBase > 0)
    assert(t.snapshots.count(_.id >= lastBase) <= 2)
  }

  test("compaction over a stale orphan data dir left by a crashed append") {
    val dir = SparkTestBase.tmpDir("compact-orphan")
    val t = new graft.table.SnapshotTable(dir)
    t.append(Seq(("k1", "a"), ("k2", "b")).toDF("key", "v"), 1, "inject")
    t.append(Seq(("k2", "b2"), ("k3", "c")).toDF("key", "v"), 2, "update")
    def view(): Map[String, String] =
      t.currentView(spark).select("key", "v").as[(String, String)].collect().toMap
    val before = view()
    // a crashed append at id HEAD+1 = 3: its data dir and manifest were
    // written (a newer k1, an extra key), HEAD was never moved
    Seq(("k1", "orphan", 3L), ("k9", "orphan", 3L)).toDF("key", "v", "snapshot_id")
      .write.parquet(s"$dir/data/sid=3")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "snapshots", "3.json"),
      """{"id":3,"parent":2,"round":9,"stage":"orphan","base":true}""".getBytes("UTF-8"))
    assert(t.snapshots.exists(_.stage == "orphan"))
    assert(t.compact(spark, 2) == 3L)
    assert(view() == before)
    assert(t.readAll(spark).count() == before.size)
    assert(t.snapshots.map(s => (s.id, s.stage, s.base)) ==
      Seq((1L, "inject", false), (2L, "update", false), (3L, "compact", true)))
  }
}
