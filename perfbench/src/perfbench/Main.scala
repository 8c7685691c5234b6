package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *
  * Runs one workload as a closed loop with one client in one `local[4]`
  * process and prints one JSON result as the last line of stdout. With
  * `--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
  * separate traced run gives the per-layer ones (the import's layers on
  * the workload's corpus, and the registry layer) and writes its spans to
  * `<work>/spans-<workload>-<seed>.tsv`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Path)

  /** One reported number. */
  final case class Metric(name: String, value: Double, unit: String)

  final case class Result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric])

  val Cores = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("data")).toAbsolutePath)
  }

  /** The session every run uses: `local[4]`, one shuffle partition per
    * core, UTC, scratch space inside the work directory, and the two
    * scheduler/codegen settings `graft.Bench` runs registry sweeps with
    * (they place tasks and cache generated code; plans and answers are
    * unchanged). */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder().appName("perfbench").master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.locality.wait", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def now: Long = System.nanoTime()
  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Heap in use after forced full collections, in MB. The pauses let
    * Spark's ContextCleaner release what a collection found unreachable
    * before the next one. */
  def liveHeapMb: Double = {
    System.gc(); Thread.sleep(200); System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def persistedRdds(s: SparkSession): Int = s.sparkContext.getPersistentRDDs.size

  /** CPU time of the whole JVM (all threads), in seconds. */
  def processCpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat; zeros where
    * the file does not exist. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  def log(msg: String): Unit = { System.err.println(s"[perfbench] $msg"); System.err.flush() }

  /** Runs `body`, counting an exception as a failed operation. */
  def attempt[A](what: String)(body: => A): Option[A] =
    try Some(body) catch {
      case NonFatal(e) => log(s"$what failed: ${e.getClass.getName}: ${e.getMessage}"); None
    }

  private def json(r: Result): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = r.metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spec = EtlBench.Specs.getOrElse(a.workload, throw new IllegalArgumentException(
      s"unknown workload ${a.workload}; known: ${EtlBench.Specs.keys.mkString(", ")}"))
    val result = new EtlBench(a, spec).run()
    val width = result.metrics.map(_.name.length).maxOption.getOrElse(0)
    result.metrics.foreach(m => println(s"%-${width}s  %.6f %s".format(m.name, m.value, m.unit)))
    println(json(result))
    SparkSession.getActiveSession.foreach(_.stop())
  }
}
