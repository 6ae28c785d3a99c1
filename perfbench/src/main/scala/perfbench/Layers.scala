package perfbench

import scala.collection.mutable

import perfbench.Tracer.{Records, StageRec}

/** Attribution of Spark stages and jobs to the engine's layers, and the
  * per-layer metric table.
  *
  * A stage's call-site stack (`StageInfo.details`) starts at the first frame
  * outside Spark. The innermost engine frame that names a layer decides;
  * `SnapshotTable.append` is skipped, so a commit job's stages go to the
  * stage that asked for the commit (its write fuses with that stage's last
  * operator). Two refinements use the stage's RDD scopes:
  *  - under `Crawl.generate`, a stage that only scans and exchanges is the
  *    snapshot view's latest-key-wins shuffle (`view`); the window itself
  *    fuses with the candidate selection and stays in `generate`;
  *  - under `Crawl.update` with the seen path on, stages holding the store
  *    join or the latest-per-key window are `seen_merge`.
  */
object Layers {

  val stageLayers: Seq[String] =
    Seq("view", "generate", "schedule", "join_parse", "update", "seen_merge", "compact")
  val stageKinds: Seq[(String, String)] = Seq("s" -> "s", "busy_s" -> "s", "rows_out" -> "rows",
    "shuffle_write_bytes" -> "bytes", "spill_bytes" -> "bytes", "task_skew" -> "ratio")
  val headline: Seq[String] = Seq(
    "q_scan_filter_agg", "q_generate_topk", "q_update_merge", "q_opic_propagate",
    "q_dim_join", "q_union_cogroup", "q_anti_join", "q_window_events",
    "q_dedup_exact", "q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
    "q_dedup_simhash", "q_text_quality", "q_embed_cosine_topk", "q_embed_lsh_ann")
  val dedupOps: Seq[String] = Seq("ngram", "minhash")

  /** Every per-layer metric with its unit, in output order. */
  val metrics: Seq[(String, String)] =
    stageLayers.flatMap(l => stageKinds.map { case (k, u) => s"$l.$k" -> u }) ++ Seq(
      "seen_bank.s" -> "s", "seen_bank.bytes" -> "bytes", "seen_bank.jobs" -> "count",
      "seen_bank.positive_ratio" -> "ratio", "seen_bank.fpp_measured" -> "ratio",
      "commit.s" -> "s", "commit.bytes_written" -> "bytes", "commit.files" -> "count",
      "table_meta.s" -> "s", "table_meta.fs_ops" -> "count",
      "stats.s" -> "s", "stats.jobs" -> "count",
      "spark.jobs" -> "count", "jvm.gc_s" -> "s", "plan_s" -> "s",
      "trace.overhead_pct" -> "%") ++
      headline.flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.plan_s" -> "s")) ++
      dedupOps.flatMap(d => Seq(s"dedup.$d.s" -> "s", s"dedup.$d.candidates" -> "rows",
        s"dedup.$d.pairs_out" -> "rows", s"dedup.$d.shuffle_write_bytes" -> "bytes",
        s"dedup.$d.spill_bytes" -> "bytes"))

  val units: Map[String, String] = metrics.toMap

  private val frameLayer: Seq[(String, String)] = Seq(
    "graft.seen.BloomSeen$.build" -> "seen_bank",
    "graft.seen.BloomSeen$.addAll" -> "seen_bank",
    "graft.crawl.Crawl.buildSeenBank" -> "seen_bank",
    "graft.crawl.Crawl.catchUpSeenBank" -> "seen_bank",
    "graft.crawl.Crawl.statsOf" -> "stats",
    "graft.table.SnapshotTable.compact" -> "compact",
    "graft.jobs.DbUpdateJob$.mergeSeenNewPagesOverStore" -> "seen_merge",
    "graft.jobs.DbUpdateJob$.update" -> "update",
    "graft.jobs.FetcherJob$.scheduleFetchlist" -> "schedule",
    "graft.jobs.FetcherJob$.attachPayloads" -> "join_parse",
    "graft.jobs.ParserJob$.parse" -> "join_parse",
    "graft.jobs.GeneratorJob$.generate" -> "generate",
    "graft.table.SnapshotTable.currentView" -> "view",
    "graft.crawl.Crawl.generate" -> "generate",
    "graft.crawl.Crawl.fetchAndParse" -> "join_parse",
    "graft.crawl.Crawl.update" -> "update",
    "graft.crawl.Crawl.inject" -> "inject")

  private def frames(details: String): Seq[String] =
    details.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** The layer of a call-site stack, or "" when no engine frame names one. */
  def layerOfDetails(details: String): String =
    frames(details).iterator.flatMap { f =>
      frameLayer.collectFirst { case (prefix, l) if f.startsWith(prefix + "(") => l }
    }.nextOption().getOrElse("")

  private def onlyScanAndExchange(scopes: Seq[String]): Boolean =
    scopes.forall { s =>
      s.startsWith("Scan") || s.startsWith("Exchange") || s.startsWith("WholeStageCodegen") ||
        s.startsWith("ColumnarToRow") || s.startsWith("Project") || s.startsWith("Filter") ||
        s.startsWith("WindowGroupLimit")
    } && scopes.exists(_.startsWith("Exchange"))

  /** Parquet footer and file listing jobs that `spark.read.parquet` runs
    * while resolving a snapshot's files. */
  private def isListing(details: String, scopes: Seq[String]): Boolean =
    details.trim.startsWith("org.apache.spark.sql.classic.DataFrameReader.parquet") &&
      scopes.toSet == Set("mapPartitions", "parallelize")

  def layerOfStage(s: StageRec, seenPath: Boolean): String = layerOfDetails(s.details) match {
    case _ if isListing(s.details, s.scopes) => "table_meta"
    case "generate" if onlyScanAndExchange(s.scopes) => "view"
    // politeness scheduling runs where the salted host shuffle is read
    case "join_parse" if !s.scopes.contains("WriteFiles") &&
      s.scopes.exists(x => x.startsWith("repartitionAndSort") || x == "mapPartitionsWithIndex") =>
      "schedule"
    case "update" if seenPath &&
      s.scopes.exists(x => x.contains("Join") || x.startsWith("Window")) => "seen_merge"
    case l => l
  }

  private def jobWallMs(jobs: Seq[Tracer.JobRec]): Double =
    jobs.filter(_.end >= 0).map(j => (j.end - j.start).toDouble).sum

  /** Per-layer metrics of the traced units, as totals per unit. */
  def table(rec: Records, units: Int, seenPath: Boolean, wallS: Double,
      metaOps: Long, gcS: Double): mutable.LinkedHashMap[String, Double] = {
    val out = mutable.LinkedHashMap(metrics.map { case (n, _) => n -> 0.0 }: _*)
    val n = math.max(units, 1).toDouble
    val byLayer = rec.stages.groupBy(s => layerOfStage(s, seenPath))
    stageLayers.foreach { l =>
      val ss = byLayer.getOrElse(l, Seq.empty)
      if (ss.nonEmpty) {
        out(s"$l.s") = ss.map(_.wallMs).sum / 1000.0 / n
        out(s"$l.busy_s") = ss.map(_.busyMs).sum / 1000.0 / n
        out(s"$l.rows_out") = ss.map(_.rowsOut).sum / n
        out(s"$l.shuffle_write_bytes") = ss.map(_.shuffleWriteBytes).sum / n
        out(s"$l.spill_bytes") = ss.map(_.spillBytes).sum / n
        out(s"$l.task_skew") = Tracer.skew(ss.maxBy(_.busyMs).taskTimesMs)
      }
    }
    val jobsBy = rec.jobs.groupBy(j => layerOfDetails(j.details))
    val listing = rec.stages.filter(s => isListing(s.details, s.scopes))
    val seenJobs = jobsBy.getOrElse("seen_bank", Seq.empty)
    out("seen_bank.s") = jobWallMs(seenJobs) / 1000.0 / n
    out("seen_bank.jobs") = seenJobs.size / n
    val statJobs = jobsBy.getOrElse("stats", Seq.empty)
    out("stats.s") = jobWallMs(statJobs) / 1000.0 / n
    out("stats.jobs") = statJobs.size / n
    val planS = rec.execs.map(_.planMs).sum / 1000.0
    val jobsS = jobWallMs(rec.jobs) / 1000.0
    out("spark.jobs") = rec.jobs.size / n
    out("plan_s") = planS / n
    out("jvm.gc_s") = gcS / n
    // driver time outside Spark jobs and query planning: manifest listing
    // and parsing, HEAD moves, commit protocol, bank checkpoints
    val commitS = rec.execs.map(_.commitMs).sum / 1000.0
    out("table_meta.s") =
      (math.max(0.0, wallS - jobsS - planS - commitS) + listing.map(_.wallMs).sum / 1000.0) / n
    out("table_meta.fs_ops") = metaOps / n
    out("commit.s") = commitS / n
    out("commit.bytes_written") = rec.execs.map(_.commitBytes).sum / n
    out("commit.files") = rec.execs.map(_.commitFiles).sum / n
    out
  }
}
