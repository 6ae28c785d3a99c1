package perfbench

/** Entry point of one benchmark process: runs one workload and writes its
  * result as JSON to `--out` (run.py turns it into the final line). */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val r = new Result
    Common.hostInfo(a, r)
    if (a.trace) CountingLocalFileSystem.install()
    try a.workload match {
      case "crawl_wide" => CrawlWide.run(a, r)
      case "crawl_discover" => CrawlDiscover.run(a, r)
      case "analytics" => Analytics.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Exception =>
        r.check("workload", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), r.toJson)
    }
  }
}
