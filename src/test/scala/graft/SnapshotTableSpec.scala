package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.table.SnapshotTable

class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("append / head / readAt / currentView / compact / resume metadata") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("snaptable")
    val t = new SnapshotTable(dir)

    val s1 = t.append(Seq(("k1", "a", 1), ("k2", "b", 1)).toDF("key", "v", "r"), 1, "inject")
    assert(s1 == 1L)
    assert(t.head.contains(1L))

    val s2 = t.append(Seq(("k2", "b2", 2), ("k3", "c", 2)).toDF("key", "v", "r"), 2, "update")
    assert(s2 == 2L)

    // multi-version scan sees all rows
    assert(t.readAll(spark).count() == 4)
    // snapshot isolation: reading at s1 ignores s2
    assert(t.readAt(spark, s1).count() == 2)

    // latest-key-wins view: k2 resolved to the s2 write
    val view = t.currentView(spark).select("key", "v").as[(String, String)].collect().toMap
    assert(view == Map("k1" -> "a", "k2" -> "b2", "k3" -> "c"))

    // compact rewrites the resolved view as a base snapshot
    val s3 = t.compact(spark, 2)
    assert(t.readAll(spark).count() == 3)
    val view2 = t.currentView(spark).select("key", "v").as[(String, String)].collect().toMap
    assert(view2 == view)

    // resume metadata
    assert(t.lastCompleted.contains((2, "compact")))
    assert(t.snapshots.map(_.id) == Seq(1L, 2L, 3L))
    assert(t.snapshots.find(_.id == s3).exists(_.base))

    // a fresh handle over the same path sees the same state (restart)
    val t2 = new SnapshotTable(dir)
    assert(t2.head.contains(3L))
    assert(t2.currentView(spark).count() == 3)
  }

  test("manifests carry the read-back schema; old and mixed manifests infer it") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("snaptable-schema")
    val t = new SnapshotTable(dir)
    val pages = Seq(graft.model.WebPage(url = "http://a.test/", key = "k1",
      markers = Map("m" -> "1"), outlinks = Map("http://b.test/" -> "b")))
    t.append(pages.toDS().toDF(), 1, "inject")
    t.append(pages.map(_.copy(key = "k2")).toDS().toDF(), 1, "update")
    // the manifest schema is what Spark's footer inference reads back
    val inferred = spark.read.parquet(s"$dir/data/sid=1").schema
    assert(t.snapshots.map(_.schema) == Seq(Some(inferred), Some(inferred)))
    assert(t.readSnapshot(spark, 1).schema == inferred)
    assert(t.readAll(spark).select("key").as[String].collect().sorted.toSeq == Seq("k1", "k2"))

    // a manifest written before schemas were recorded reads by inference
    val m = java.nio.file.Paths.get(dir, "snapshots", "2.json")
    new java.io.File(dir, "snapshots/.2.json.crc").delete()
    java.nio.file.Files.write(m,
      """{"id":2,"parent":1,"round":1,"stage":"update","base":false}""".getBytes("UTF-8"))
    assert(t.snapshots.find(_.id == 2).exists(_.schema.isEmpty))
    assert(t.readSnapshot(spark, 2).schema == inferred)
    assert(t.readAll(spark).count() == 2)

    // a chain of mixed schemas keeps the inference path
    t.append(Seq(("k3", 7)).toDF("key", "extra"), 2, "foreign")
    assert(t.snapshots.flatMap(_.schema).distinct.size == 2)
    assert(t.readAll(spark).count() == 3)
  }
}
