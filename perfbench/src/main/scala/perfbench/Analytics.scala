package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Queries
import graft.ops.Dedup

/** `analytics`: one pass of the 15 headline queries over the generated
  * star schema (written by gen_tables.py before the JVM starts), then the
  * ngram-Jaccard and MinHash-LSH pair generators over a corpus with a planted
  * corpus-wide shingle and planted near-duplicate phrase groups. */
object Analytics {

  /** LSH bucket cap, sized to the corpus: the planted shingle's bucket
    * (documents whose minimum hash it is, about n/144 per band) exceeds it. */
  val MaxBucket = 100L

  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(a: Args, r: Result): Unit = {
    val sfDir = new File(a.work, "sf").getAbsolutePath
    val docsDir = new File(a.work, "planted").getAbsolutePath
    val resultsDir = new File(a.work, "results")
    val nDocs = if (a.tiny) 2000 else 6000
    val corpus = PlantedCorpus(nDocs, a.seed)
    val tracer = new Tracer
    type Rows = (Array[Row], org.apache.spark.sql.types.StructType)
    val qTimes = mutable.LinkedHashMap(Layers.headline.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val dTimes = mutable.LinkedHashMap(Layers.dedupOps.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val tracedQ = mutable.Map.empty[String, Double].withDefaultValue(0.0)

    /** One pass: the 15 headline queries, then the two pair generators. */
    def pass(spark: SparkSession, docs: DataFrame, timed: Boolean)
        : (Map[String, Rows], Map[String, Array[Row]]) = {
      val withTrace = timed && tracer.attached
      var got = Map.empty[String, Rows]
      var gotPairs = Map.empty[String, Array[Row]]
      Layers.headline.foreach { q =>
        val (rows, secs) = Common.time(tracer.within(spark, s"q.$q") {
          val df = Queries.all(q)(spark, sfDir)
          val rows = r.op(q)(df.collect())
          spark.catalog.clearCache()
          rows.map(_ -> df.schema)
        })
        if (timed) qTimes(q) += secs
        if (withTrace) tracedQ(q) += secs
        rows.foreach(x => got += q -> x)
      }
      Seq[(String, () => DataFrame)](
        "ngram" -> (() => Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1)),
        "minhash" -> (() => Dedup.minhashLshCandidates(docs, "doc_id", "text",
          maxBucket = MaxBucket))
      ).foreach { case (d, f) =>
        val (rows, secs) = Common.time(tracer.within(spark, s"dedup.$d") {
          val out = r.op(d)(f().collect())
          spark.catalog.clearCache()
          out
        })
        if (timed) dTimes(d) += secs
        if (withTrace) tracedQ(s"dedup.$d") += secs
        rows.foreach(x => gotPairs += d -> x)
      }
      (got, gotPairs)
    }

    // ---- set-up, three times: session start and a first read of every
    // table; after the first, the planted corpus is written (untimed) and
    // one warmup pass runs over the real tables (its outputs are checked)
    var spark: SparkSession = null
    var firstResults: Map[String, Rows] = Map.empty
    var pairs: Map[String, Array[Row]] = Map.empty
    r.info("jvm_boot_s") = f"${Common.sinceJvmStart()}%.3f"
    val setups = (1 to 3).map { i =>
      val (_, tSession) = Common.time { spark = Common.session(a, a.cores) }
      val (_, tRest) = Common.time(tables.foreach(t => spark.read.parquet(s"$sfDir/$t.parquet")))
      if (i == 1) {
        corpus.write(spark, docsDir, 2 * a.cores)
        val (_, w) = Common.time {
          val (g, p) = pass(spark, spark.read.parquet(docsDir), timed = false)
          firstResults = g; pairs = p
        }
        r.named("warmup_s") = (w, "s")
      }
      tSession + tRest
    }
    r.e2e("setup_s") = (Common.median(setups), "s")
    Common.phase("setup done")

    // ---- timed passes
    val docs = spark.read.parquet(docsDir)
    val units = new Units(a, tracer)
    val start = Common.now()
    while (units.more(start, minUnits = 1, maxUnits = 8)) {
      r.op("pass")(units.run(spark)(())(pass(spark, docs, timed = true)))
      Common.sampleLiveHeap()
    }
    Common.phase("timed passes done")

    // ---- correctness: query results go to the DuckDB oracle (run.py);
    // the pair generators are checked here against a plain re-implementation
    Common.deleteRecursively(resultsDir)
    firstResults.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(new File(resultsDir, q).getAbsolutePath)
    }
    java.nio.file.Files.writeString(new File(resultsDir, "oracle_sql.json").toPath,
      Json.obj(Layers.headline.map(q => q -> Json.str(Queries.oracles(q)))))
    r.info("results_dir") = resultsDir.getAbsolutePath
    val ref = corpus.reference(maxBucket = MaxBucket)
    pairs.get("ngram").foreach { rows =>
      val got = rows.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
      r.check("ngram_pairs", got == ref.ngram,
        s"engine ${got.size} vs reference ${ref.ngram.size} pairs; " +
          s"engine-only ${(got -- ref.ngram).take(3)}, reference-only ${(ref.ngram -- got).take(3)}")
      val gotPlain = got.map(p => (p._1, p._2))
      r.check("planted_groups_found", ref.planted.subsetOf(gotPlain),
        s"${(ref.planted -- gotPlain).size} of ${ref.planted.size} planted pairs missing")
    }
    pairs.get("minhash").foreach { rows =>
      val got = rows.map(x => (x.getLong(0), x.getLong(1))).toSet
      r.check("minhash_pairs", got == ref.minhash,
        s"engine ${got.size} vs reference ${ref.minhash.size} pairs; " +
          s"engine-only ${(got -- ref.minhash).take(3)}, reference-only ${(ref.minhash -- got).take(3)}")
    }
    r.check("hot_keys_capped", ref.hotShingles.contains(PlantedCorpus.HotShingle) &&
      ref.hotBuckets > 0, s"planted hot keys not over their caps: $ref")
    Common.phase("checks done")
    spark.stop()

    def med(xs: Iterable[Double]): Double = Common.median(xs.toSeq)
    val passes = units.count
    val headlineS = med((0 until passes).map(i => Layers.headline.map(q => qTimes(q)(i)).sum))
    val dedupS = med((0 until passes).map(i => Layers.dedupOps.map(d => dTimes(d)(i)).sum))
    r.e2e("work_s") = (units.medianSeconds, "s")
    r.e2e("heap_live_peak_mb") = (Common.liveHeapPeakMb, "MiB")
    r.named("headline_s") = (headlineS, "s")
    r.named("dedup_kdocs_per_s") = (nDocs / dedupS / 1000.0, "kdocs/s")
    r.info ++= Seq("planted_docs" -> nDocs.toString, "passes_timed" -> passes.toString)
    if (a.trace) {
      val t = units.layerTable(seenPath = false)
      val n = math.max(units.traced.size, 1).toDouble
      val rec = tracer.snapshot()
      Layers.headline.foreach { q =>
        t(s"q.$q.s") = tracedQ(q) / n
        t(s"q.$q.plan_s") = rec.execs.filter(_.group == s"q.$q").map(_.planMs).sum / 1000.0 / n
      }
      Layers.dedupOps.foreach { d =>
        val g = s"dedup.$d"
        val st = rec.stages.filter(_.group == g)
        t(s"$g.s") = tracedQ(g) / n
        t(s"$g.candidates") = rec.execs.filter(_.group == g).map(_.pairCandidates).sum / n
        t(s"$g.pairs_out") = pairs.get(d).map(_.length.toDouble).getOrElse(0.0)
        t(s"$g.shuffle_write_bytes") = st.map(_.shuffleWriteBytes).sum / n
        t(s"$g.spill_bytes") = st.map(_.spillBytes).sum / n
      }
      r.layers ++= t
    }
  }
}

/** A corpus with planted structure: every document starts with the same
  * shingle ("the of and", document frequency = corpus size, far over the
  * posting-list cap), carries one 3-token phrase shared by its phrase group
  * (about ten documents: the near-duplicate signal) and eight filler words.
  * Every 10th document is instead one shared boilerplate page: its MinHash
  * bucket exceeds its cap (and, from 5000 documents on, its shingles too).
  * Texts are a pure function of (doc id, seed). */
final case class PlantedCorpus(n: Int, seed: Long) {
  import PlantedCorpus._

  private val pool = math.max(1, n / 10)
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def group(i: Long): Long = math.floorMod(mix(i * 31 + seed), pool.toLong)
  def boilerplate(i: Long): Boolean = i % 10 == 0
  def text(i: Long): String = {
    val g = group(i)
    val tag = math.floorMod(seed, 1000L)
    if (boilerplate(i)) return s"$HotShingle page footer $tag contact us privacy terms of use"
    val fill = (0 until 8).map(j => s"u${j}_${math.floorMod(mix(i * 8 + j + seed * 1000003L), 1000000007L)}")
    (Seq(HotShingle, s"p${tag}x$g q$g r$g") ++ fill).mkString(" ")
  }

  def write(spark: SparkSession, dir: String, parts: Int): Unit = {
    import spark.implicits._
    val s = this
    spark.range(0, n, 1, parts).map(i => (i: Long, s.text(i))).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
  }

  final case class Reference(ngram: Set[(Long, Long, Double)], planted: Set[(Long, Long)],
      minhash: Set[(Long, Long)], hotShingles: Set[String], hotBuckets: Int) {
    override def toString: String =
      s"Reference(ngram=${ngram.size}, planted=${planted.size}, minhash=${minhash.size}, " +
        s"hotShingles=${hotShingles.take(3)}, hotBuckets=$hotBuckets)"
  }

  /** The expected outputs, computed without Spark. */
  def reference(maxBucket: Long, maxDf: Int = 500, threshold: Double = 0.1): Reference = {
    val trigrams: Array[Array[String]] = Array.tabulate(n) { i =>
      val ws = text(i.toLong).toLowerCase.split("\\s+")
      (0 to ws.length - 3).map(k => s"${ws(k)} ${ws(k + 1)} ${ws(k + 2)}").toArray
    }
    // ngram Jaccard over the capped shingle universe
    val posting = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    trigrams.zipWithIndex.foreach { case (ts, i) =>
      ts.distinct.foreach(t => posting.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += i)
    }
    val hot = posting.collect { case (t, ids) if ids.size > maxDf => t }.toSet
    val sizes = new Array[Int](n)
    val inter = mutable.HashMap.empty[(Int, Int), Int]
    posting.foreach { case (t, ids) =>
      if (!hot(t)) {
        ids.foreach(i => sizes(i) += 1)
        if (ids.size >= 2) for (x <- ids; y <- ids if x < y)
          inter((x, y)) = inter.getOrElse((x, y), 0) + 1
      }
    }
    def round4(d: Double): Double =
      BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ngram = inter.iterator.map { case ((x, y), c) =>
      (x.toLong, y.toLong, round4(c.toDouble / (sizes(x) + sizes(y) - c)))
    }.filter(_._3 >= threshold).toSet
    val byGroup = (0 until n).filterNot(i => boilerplate(i.toLong)).groupBy(i => group(i.toLong))
    val planted = byGroup.values.flatMap { ids =>
      for (x <- ids; y <- ids if x < y) yield (x.toLong, y.toLong)
    }.toSet
    // MinHash-LSH: 6 hashes over hash40(shingle), 3 bands of 2 rows
    val md = java.security.MessageDigest.getInstance("MD5")
    def hash40(s: String): Long = {
      val d = md.digest(s.getBytes("UTF-8"))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 10), 16)
    }
    val buckets = mutable.HashMap.empty[(Int, String), mutable.ArrayBuffer[Int]]
    trigrams.zipWithIndex.foreach { case (ts, i) =>
      if (ts.nonEmpty) {
        val xs = ts.map(hash40)
        val mh = MinhashA.indices.map(k => xs.map(x => (x * MinhashA(k) + MinhashB(k)) % Prime).min)
        (0 until 3).foreach { b =>
          buckets.getOrElseUpdate((b, s"${mh(2 * b)}_${mh(2 * b + 1)}"),
            mutable.ArrayBuffer.empty) += i
        }
      }
    }
    val hotBuckets = buckets.count(_._2.size > maxBucket)
    val minhash = buckets.valuesIterator.filter(ids => ids.size >= 2 && ids.size <= maxBucket)
      .flatMap(ids => for (x <- ids; y <- ids if x < y) yield (x.toLong, y.toLong)).toSet
    Reference(ngram, planted, minhash, hot, hotBuckets)
  }
}

object PlantedCorpus {
  val HotShingle = "the of and"
  // the MinHash family of the engine's documented pair generator
  private val Prime = 2305843009213693951L
  private val MinhashA = Seq(387421L, 921043L, 450157L, 700417L, 104729L, 999983L)
  private val MinhashB = Seq(12289L, 786433L, 196613L, 402653L, 161051L, 69857L)
}
