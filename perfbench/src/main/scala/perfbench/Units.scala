package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Repeats a workload's unit of timed work for the requested seconds.
  *
  * Without tracing every unit runs bare. With tracing, units run in
  * untraced-traced-traced-untraced blocks (at least one block), so a linear
  * warming trend cancels out of the traced run's own overhead estimate, the
  * ratio of the traced and untraced means; the per-layer table is built
  * from the traced units only.
  */
final class Units(a: Args, val tracer: Tracer) {
  val bare = mutable.ArrayBuffer.empty[Double]
  val traced = mutable.ArrayBuffer.empty[Double]
  private var metaOps = 0L
  private var gcS = 0.0

  /** Run `prep` untimed, then `timed`; returns the timed seconds. */
  def run(spark: SparkSession)(prep: => Unit)(timed: => Unit): Double = {
    prep
    val withTrace = a.trace && (count % 4 == 1 || count % 4 == 2)
    if (withTrace) tracer.attach(spark)
    val ops0 = CountingLocalFileSystem.ops.get()
    val gc0 = Common.gcSeconds()
    val (_, secs) = Common.time(timed)
    if (withTrace) {
      tracer.drain(spark)
      metaOps += CountingLocalFileSystem.ops.get() - ops0
      gcS += Common.gcSeconds() - gc0
      tracer.detach()
      traced += secs
    } else bare += secs
    secs
  }

  def count: Int = bare.size + traced.size

  /** Keep going while under the time budget, within [minUnits, maxUnits];
    * with tracing, one untraced-traced-traced-untraced block. */
  def more(start: Double, minUnits: Int, maxUnits: Int): Boolean = {
    if (a.trace) count < 4
    else count < minUnits || (count < maxUnits && Common.now() - start < a.seconds)
  }

  /** Median seconds of the bare units (the traced ones when there are none). */
  def medianSeconds: Double = Common.median(if (bare.nonEmpty) bare.toSeq else traced.toSeq)

  def layerTable(seenPath: Boolean): mutable.LinkedHashMap[String, Double] = {
    val rec = tracer.snapshot()
    writeStageLog(rec, seenPath)
    val t = Layers.table(rec, traced.size, seenPath, traced.sum, metaOps, gcS)
    if (bare.nonEmpty && traced.nonEmpty)
      t("trace.overhead_pct") = (traced.sum / traced.size / (bare.sum / bare.size) - 1) * 100
    t
  }

  /** Every traced stage and job with its layer, for reading the attribution. */
  private def writeStageLog(rec: Tracer.Records, seenPath: Boolean): Unit = {
    val lines = rec.stages.sortBy(_.stageId).map { s =>
      val top = s.details.linesIterator.take(3).map(_.trim).mkString(" < ")
      s"stage\t${s.stageId}\t${Layers.layerOfStage(s, seenPath)}\t${s.group}\t${s.wallMs}\t" +
        s"${s.busyMs}\t${s.rowsOut}\t${s.scopes.mkString(",")}\t$top"
    } ++ rec.jobs.sortBy(_.id).map { j =>
      val top = j.details.linesIterator.take(3).map(_.trim).mkString(" < ")
      s"job\t${j.id}\t${Layers.layerOfDetails(j.details)}\t${j.group}\t${j.end - j.start}\t$top"
    }
    java.nio.file.Files.writeString(new java.io.File(a.work, "trace_stages.tsv").toPath,
      lines.mkString("", "\n", "\n"))
  }
}
