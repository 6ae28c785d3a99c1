package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command line of one benchmark process (see run.py, which builds it). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    cores: Int,
    size: String,
    corrupt: String,
    out: String) {
  def tiny: Boolean = size == "tiny"
}

object Args {
  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String, d: String = null): String = m.getOrElse(k, Option(d).getOrElse(
      throw new IllegalArgumentException(s"missing --$k")))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace", "0") == "1", get("work"), get("cores").toInt, get("size", "full"),
      get("corrupt", ""), get("out"))
  }
}

/** What one process reports: checks, operation counts, metrics, host facts. */
final class Result {
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  /** end-to-end metrics gated by BENCHMARK.json, name -> (value, unit) */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** the workload's own named figures (printed, not gated) */
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** per-layer metrics of the traced run */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val info = mutable.LinkedHashMap.empty[String, String]

  /** Run one operation; an exception counts it as failed and is recorded. */
  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failed += 1
        checks += ((s"op:$name", false, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)))
        None
    }
  }

  /** A correctness check is an operation too; a mismatch fails it. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail.take(500)))
  }

  def toJson: String = {
    import Json._
    obj(Seq(
      "attempted" -> num(attempted.toDouble),
      "failed" -> num(failed.toDouble),
      "checks" -> arr(checks.toSeq.map { case (n, ok, d) =>
        obj(Seq("name" -> str(n), "ok" -> bool(ok), "detail" -> str(d))) }),
      "e2e" -> obj(e2e.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "named" -> obj(named.toSeq.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(u))) }),
      "layers" -> obj(layers.toSeq.map { case (k, v) =>
        k -> obj(Seq("value" -> num(v), "unit" -> str(Layers.units.getOrElse(k, "")))) }),
      "info" -> obj(info.toSeq.map { case (k, v) => k -> str(v) })))
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
  def bool(b: Boolean): String = b.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Common {

  def now(): Double = System.nanoTime() / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds since the JVM started (process start as the JVM sees it). */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** Progress line on stderr: seconds since JVM start and the phase name. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${sinceJvmStart()}%7.2f s $name")

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  private var heapPeakMb = 0.0

  /** Live heap right after a full collection, without the block manager's
    * memory store (cached blocks and broadcast pieces, which Spark frees
    * asynchronously, so they would make the sample depend on timing); the
    * run keeps the peak. Called between units, never inside a timed region. */
  def sampleLiveHeap(): Double = {
    System.gc()
    val used = (ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed -
      org.apache.spark.perfbenchhook.Bus.storageMemoryUsed()) / 1048576.0
    heapPeakMb = math.max(heapPeakMb, used)
    used
  }
  def liveHeapPeakMb: Double = heapPeakMb

  /** One local SparkSession; shuffle partitions and crawl partitions stay
    * fixed across core counts, so N and 4N run the same plan. */
  def session(a: Args, cores: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", (2 * a.cores).toString)
      .config("spark.default.parallelism", (2 * a.cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.registrationRequired", "false")
      .config("spark.sql.parquet.columnarReaderBatchSize", "512")
      .config("spark.local.dir", new File(a.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(a.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def hostInfo(a: Args, r: Result): Unit = {
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong)
      finally src.close()
    }.toOption.flatten.getOrElse(-1L)
    r.info ++= Seq(
      "workload" -> a.workload, "seed" -> a.seed.toString, "size" -> a.size,
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores" -> a.cores.toString,
      "mem_total_kb" -> memKb.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory() / 1048576).toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "scala" -> scala.util.Properties.versionNumberString)
  }
}
