package graft.table

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg-style snapshot table over plain Parquet.
  *
  * No Iceberg jar ships in /opt/spark/jars (offline build), so this thin
  * layer supplies the pieces the engine needs from it: append-only
  * snapshots with manifests, snapshot-isolation reads, latest-key-wins
  * upsert-on-read, compaction, and snapshot-based checkpoint resume
  * (north_rule: "append results ... to Iceberg with per-partition lineage
  * columns and snapshot-based checkpoint resume"). It replaces the
  * reference's mutable Gora/HBase webpage store (upsert A5 of SURVEY.md §2).
  * All metadata IO goes through the Hadoop FileSystem API, so the layout
  * works identically on file://, hdfs:// or s3a:// paths.
  *
  * Layout:
  * {{{
  *   <path>/data/sid=<id>/part-*.parquet   one directory per snapshot
  *   <path>/snapshots/<id>.json            manifest: id, parent, round, stage, base,
  *                                         schema, metrics
  *   <path>/HEAD                           current snapshot id (atomic rename)
  * }}}
  *
  * A "base" snapshot is a compaction result: reads only consider snapshots
  * from the newest base at-or-before the read snapshot onward. Rows carry
  * `snapshot_id`; the current view resolves duplicate keys by latest
  * snapshot_id — exactly the put-wins semantics of the reference store.
  *
  * A manifest also carries the data schema (in its Parquet read-back form),
  * so reads name it instead of running Spark's footer-inference job, and
  * optionally `metrics`: aggregates observed during the snapshot's own
  * write. Manifests without them (older tables) read as before.
  */
final class SnapshotTable(val path: String, val keyCol: String = "key",
    hadoopConf: Configuration = new Configuration()) {

  case class Snapshot(id: Long, parent: Long, round: Int, stage: String, base: Boolean,
      schema: Option[StructType] = None, metrics: Map[String, Long] = Map.empty)

  NioLocalFileSystem.installDefault(
    hadoopConf +: SparkSession.getActiveSession.map(_.sparkContext.hadoopConfiguration).toSeq: _*)

  private val root = new Path(path)
  private def fs: FileSystem = root.getFileSystem(hadoopConf)
  private def snapshotsDir = new Path(root, "snapshots")
  private def dataDir(id: Long) = new Path(root, s"data/sid=$id")
  private def headFile = new Path(root, "HEAD")

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }

  private def writeString(p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def exists: Boolean = fs.exists(snapshotsDir)

  /** Parsed manifests by id, with the (length, mtime) they were parsed at.
    * A committed manifest never changes; only an orphan left by a crashed
    * append is rewritten, by the retry at the same id, which the stamp
    * catches. The listing itself is never cached, so snapshots committed
    * by another writer still appear. */
  private val parsed = new ConcurrentHashMap[Long, ((Long, Long), Snapshot)]()

  private def manifest(st: FileStatus): Snapshot = {
    val id = st.getPath.getName.stripSuffix(".json").toLong
    val stamp = (st.getLen, st.getModificationTime)
    Option(parsed.get(id)).collect { case (`stamp`, s) => s }.getOrElse {
      val s = parseManifest(readString(st.getPath))
      parsed.put(id, (stamp, s))
      s
    }
  }

  def snapshots: Seq[Snapshot] = {
    val listing =
      try fs.listStatus(snapshotsDir).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    listing.filter(_.getPath.getName.endsWith(".json")).map(manifest).sortBy(_.id)
  }

  def head: Option[Long] =
    try Some(readString(headFile).trim.toLong)
    catch { case _: java.io.FileNotFoundException => None }

  def headSnapshot: Option[Snapshot] = head.flatMap(id => snapshots.find(_.id == id))

  /** Append a snapshot; returns its id. The df gains a `snapshot_id` lineage
    * column. Manifest write + HEAD rename make the commit atomic-enough for
    * single-writer crawl rounds (a crash before the HEAD move leaves an
    * orphan data dir that is never referenced).
    *
    * `metrics` are named integral aggregates (e.g. `count_if(...).as(n)`)
    * observed with `Dataset.observe` during the write itself — no extra
    * pass — and committed in the manifest (see [[Snapshot.metrics]]). */
  def append(df: DataFrame, round: Int, stage: String, base: Boolean = false,
      metrics: Seq[Column] = Nil): Long = {
    val parent = head.getOrElse(0L)
    val id = parent + 1
    val out = df.withColumn("snapshot_id", lit(id))
    val observation = if (metrics.isEmpty) None else Some(Observation())
    observation.fold(out)(o => out.observe(o, metrics.head, metrics.tail: _*))
      .write.mode("overwrite").parquet(dataDir(id).toString)
    // the observation completes when the listener bus reports the write's
    // query execution, moments after the write returns; a value that does
    // not arrive in time is left out, and readers recompute it
    val observed = observation.flatMap(o => scala.util.Try(
      scala.concurrent.Await.result(o.future, SnapshotTable.ObservationWait)).toOption).map { row =>
      row.schema.fieldNames.zipWithIndex.collect {
        case (name, i) if !row.isNullAt(i) => name -> row.getAs[Number](i).longValue
      }.toMap
    }.getOrElse(Map.empty[String, Long])
    writeString(new Path(snapshotsDir, s"$id.json"), renderManifest(
      Snapshot(id, parent, round, stage, base, Some(SnapshotTable.readBack(out.schema)),
        observed)))
    parsed.remove(id)
    val tmp = new Path(root, ".HEAD.tmp")
    writeString(tmp, id.toString)
    fs.delete(headFile, false)
    fs.rename(tmp, headFile)
    id
  }

  private def renderManifest(s: Snapshot): String = {
    val fields = List[JField](
      "id" -> JLong(s.id), "parent" -> JLong(s.parent), "round" -> JInt(s.round),
      "stage" -> JString(s.stage), "base" -> JBool(s.base)) ++
      s.schema.map(t => "schema" -> JsonMethods.parse(t.json)) ++
      (if (s.metrics.isEmpty) None
       else Some("metrics" -> JObject(s.metrics.toList.sorted.map { case (k, v) =>
         k -> JLong(v) })))
    JsonMethods.compact(JsonMethods.render(JObject(fields)))
  }

  private def parseManifest(s: String): Snapshot = {
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(s)
    Snapshot((j \ "id").extract[Long], (j \ "parent").extract[Long], (j \ "round").extract[Int],
      (j \ "stage").extract[String], (j \ "base").extract[Boolean],
      (j \ "schema").toOption.map(v =>
        DataType.fromJson(JsonMethods.compact(JsonMethods.render(v))).asInstanceOf[StructType]),
      (j \ "metrics").extractOpt[Map[String, Long]].getOrElse(Map.empty))
  }

  /** Snapshots contributing to a read at `atId`: newest base <= atId,
    * then every snapshot after it up to atId. */
  private def chainFor(atId: Long): Seq[Snapshot] = {
    val all = snapshots.filter(_.id <= atId)
    val lastBase = all.filter(_.base).map(_.id).maxOption.getOrElse(0L)
    all.filter(_.id >= lastBase)
  }

  /** Parquet read of snapshot data dirs, under the schema their manifests
    * agree on; without one (a manifest that predates it, or a chain of
    * mixed schemas) Spark infers it from the footers. */
  private def read(spark: SparkSession, ids: Seq[Long], schemas: Seq[Option[StructType]]) = {
    val dirs = ids.map(dataDir(_).toString)
    schemas.distinct match {
      case Seq(Some(s)) => spark.read.schema(s).parquet(dirs: _*)
      case _ => spark.read.parquet(dirs: _*)
    }
  }

  /** All row versions visible at a snapshot (multi-version scan — the shape
    * generate/stats read, SURVEY.md §1.4). */
  def readAt(spark: SparkSession, atId: Long): DataFrame = {
    val chain = chainFor(atId)
    if (chain.isEmpty) throw new IllegalStateException(s"empty table at $path")
    read(spark, chain.map(_.id), chain.map(_.schema))
  }

  /** Just the rows written by one snapshot (a stage's delta). */
  def readSnapshot(spark: SparkSession, id: Long): DataFrame =
    read(spark, Seq(id), Seq(snapshots.find(_.id == id).flatMap(_.schema)))

  /** The snapshot of a given (round, stage) commit, if present. */
  def snapshotOf(round: Int, stage: String): Option[Snapshot] =
    snapshots.find(s => s.round == round && s.stage == stage)

  /** The snapshot id of a given (round, stage) commit, if present. */
  def snapshotFor(round: Int, stage: String): Option[Long] = snapshotOf(round, stage).map(_.id)

  def readAll(spark: SparkSession): DataFrame =
    readAt(spark, head.getOrElse(throw new IllegalStateException(s"no HEAD at $path")))

  /** Latest-key-wins resolution = the reference store's put/upsert
    * semantics: for each key only the most recent write survives. */
  def currentView(spark: SparkSession): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col("snapshot_id").desc)
    readAll(spark)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Rewrite the resolved view as a single base snapshot, bounding the
    * number of deltas a read must merge — the Iceberg rewrite/compact
    * analogue; run every k rounds at scale. The view reads the chain up to
    * HEAD only, so the new `data/sid=<HEAD+1>` directory (and any orphan a
    * crashed append left there) is never part of what it reads. */
  def compact(spark: SparkSession, round: Int): Long =
    append(currentView(spark).drop("snapshot_id"), round, "compact", base = true)

  /** Highest completed round+stage, for checkpoint resume. */
  def lastCompleted: Option[(Int, String)] = headSnapshot.map(s => (s.round, s.stage))

  /** Like [[lastCompleted]], but restricted to the stages the caller's
    * resume logic understands: walks the parent chain from HEAD past any
    * foreign snapshot (e.g. an offline "linkrank" rescore appended between
    * crawl rounds). Treating a foreign head as "round done" would silently
    * skip the round's remaining crawl stages on resume. */
  def lastCompletedOf(known: Set[String]): Option[(Int, String)] = {
    val byId = snapshots.map(s => s.id -> s).toMap
    Iterator.iterate(head.flatMap(byId.get))(_.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).flatten
      .find(s => known.contains(s.stage))
      .map(s => (s.round, s.stage))
  }

  /** Drop the whole table (reference: DbCleanerJob store.deleteSchema, A10). */
  def drop(): Unit = fs.delete(root, true)
}

object SnapshotTable {

  /** How long [[SnapshotTable.append]] waits for its observed metrics. */
  private val ObservationWait: scala.concurrent.duration.FiniteDuration =
    scala.concurrent.duration.Duration(10, "s")

  /** A schema as Parquet reads it back: Spark writes every field, array
    * element and map value as nullable. */
  private def readBack(t: StructType): StructType = nullable(t).asInstanceOf[StructType]

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType),
      nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
