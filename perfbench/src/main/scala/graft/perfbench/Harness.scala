package graft.perfbench

import graft.kg.Broadcasts
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable

final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, out: String, cpus: Int)

/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Session lifecycle, set-up timing, host controls and the run artifact —
  * everything the workloads share.
  */
final class Harness(val o: Opts) {
  val work: String = s"${o.out}/work-${o.workload}"
  var spark: SparkSession = _
  var probe: Probe = _
  var cpusNow: Int = 0

  /** Set-up: process start to a ready session with its broadcasts, and
    * the session and broadcast parts of it.
    */
  var setupS, sessionS, broadcastS = Double.NaN
  val heapMb = mutable.ArrayBuffer.empty[Double]
  /** (when, serial control s, all-core control s, host steal s so far) */
  val controls = mutable.ArrayBuffer.empty[(String, Double, Double, Double)]
  val artifact = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def log(s: String): Unit = println(f"[perfbench ${Jvm.sinceStartS}%6.1fs] $s")

  def fail(what: String): Unit = { failed += 1; log(s"CHECK FAILED: $what") }

  /** A fresh session at `local[cpus]` with the production settings of
    * `graft.Main`, plus its broadcasts (trie, KB index, grammar). Scratch
    * directories stay inside the benchmark's own output directory. Returns
    * the seconds spent on the session and on the broadcasts.
    */
  def start(cpus: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.out}/warehouse")
      // one pass plans more distinct generated classes than the default
      // 100-entry codegen cache holds, so every pass would compile them
      // again; a larger cache lets codegen settle during warm-up
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    Broadcasts.all(spark.sparkContext)
    val t2 = System.nanoTime()
    probe = new Probe(spark)
    cpusNow = cpus
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  def stop(): Unit = if (spark != null) {
    probe.detach()
    spark.stop()
    spark = null
  }

  /** The set-up, timed from process start: JVM start, Spark's class
    * loading, the session, and the one-time lexicon, KB and grammar builds
    * behind `Broadcasts.all`. It happens once per process, so a run takes
    * one reading.
    */
  def setup(): Unit = {
    val (sess, bc) = start(o.cpus)
    setupS = Jvm.sinceStartS
    sessionS = sess
    broadcastS = bc
  }

  def clearCache(): Unit = spark.sharedState.cacheManager.clearCache()

  def recordHeap(): Unit = heapMb += Jvm.liveHeapMb()

  /** Host controls: a seeded codegen-only aggregate with none of this
    * repository's code, pinned to 1 partition (serial) and to 4 x cpus
    * partitions (all-core). They bracket each measured phase so a slow
    * host window shows in the artifact, next to the CPU time the hypervisor
    * has stolen from this system so far (`/proc/stat`, all CPUs).
    */
  def control(when: String): Unit = {
    val n = 2000000L
    def t(rows: Long, parts: Int): Double = {
      val t0 = System.nanoTime()
      spark.range(0, rows, 1, parts)
        .selectExpr(s"sum(hash(id, ${o.seed}L))").collect()
      (System.nanoTime() - t0) / 1e9
    }
    controls += ((when, t(n, 1), t(n * cpusNow, 4 * cpusNow), stealS))
  }

  private def stealS: Double =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      cpu.split("\\s+")(8).toDouble / 100 // USER_HZ ticks
    } catch { case _: Exception => -1.0 }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def rmrf(p: String): Unit = {
    def rec(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rec))
      f.delete()
    }
    rec(new File(p))
  }

  def writeText(name: String, text: String): Unit = {
    Files.createDirectories(Paths.get(o.out))
    Files.write(Paths.get(o.out, name), text.getBytes(StandardCharsets.UTF_8))
  }

  def controlsJson: String = controls.map { case (w, s, a, st) =>
    f"""{"when":"$w","serial_s":$s,"all_core_s":$a,"host_steal_s":$st}"""
  }.mkString("[", ",", "]")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def arr(xs: Iterable[Double]): String = xs.map(_.toString).mkString("[", ",", "]")
}
