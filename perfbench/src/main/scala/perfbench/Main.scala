package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload per process, one caller, closed loop.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --results DIR --t0-ms MS
  *                  [--queries FILE --input-digest HEX]
  *   perfbench.Main --dump-oracle FILE
  *
  * `run.py` builds the classpath and starts this main; it is not meant to
  * be started by hand. See perfbench/README.md for the workloads and
  * metrics. */
object Main {
  /** Task slots: one fewer than the machine's 4 cores, so the driver thread
    * (planning, the single-writer encode), the JIT and the collector have a
    * core of their own, and a core the host takes away for a while does not
    * stall a stage. Jobs run at the same speed as with 4 slots; see
    * perfbench/README.md for the measurement. */
  val Cores = 3

  /** Timed warm rounds of a run: `--seconds` over the workload's nominal
    * round time, at least 3, so every run of a workload does the same
    * work and the median is not the mean of two. */
  def warmRounds(seconds: Double, roundS: Double): Int =
    math.max(3, math.round(seconds / roundS).toInt)

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, root: Path, results: Path, t0Ms: Long,
      queries: Option[Path], inputDigest: String)

  /** One timed call into the program. */
  final case class Call(name: String, seconds: Double, error: Option[String])

  /** What a workload hands back: timed rounds of calls (round 0 is cold),
    * the untimed warm-up calls between the cold and the warm rounds, bytes
    * written per warm round, failed checks, and its record. */
  final case class Outcome(rounds: Seq[Seq[Call]], warmup: Seq[Call],
      writtenBytes: Seq[Long],
      failedChecks: Seq[String], inputDigest: String,
      record: Seq[(String, Any)], layers: Seq[(String, Double)])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    kv.get("--dump-oracle") match {
      case Some(f) =>
        Files.writeString(Paths.get(f), Json.value(graft.SparkEntry.oracleSql))
        return
      case None =>
    }
    val a = Args(kv("--workload"), kv("--seed").toLong,
      kv("--seconds").toDouble, kv("--trace") == "1",
      Paths.get(kv("--root")), Paths.get(kv("--results")),
      kv("--t0-ms").toLong,
      kv.get("--queries").map(Paths.get(_)),
      kv.getOrElse("--input-digest", ""))
    val jvmStartMs = System.currentTimeMillis()
    val cpu0 = Stats.cpuTicks()
    val workload: Workload = a.workload match {
      case "ncagg_bulk" => new Ncagg(a)
      case "registry" => new Registry(a)
      case w => sys.error(s"unknown workload: $w")
    }
    val spark = session(workload.confs, a.root)
    workload.setup()
    // set-up ends here, right before the first timed call
    val setupS = (System.currentTimeMillis() - a.t0Ms) / 1000.0
    val launchS = (jvmStartMs - a.t0Ms) / 1000.0

    val out = try workload.run(spark) finally spark.stop()
    workload.cleanup()
    val cpu1 = Stats.cpuTicks()
    // share of the machine's CPU time the hypervisor gave to other guests
    // while this run measured; a noisy run shows here
    val steal = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
    report(a, workload, out, setupS, launchS, steal)
  }

  /** A local session with the workload's confs; Spark's scratch space is
    * kept inside the benchmark's own root. */
  def session(confs: Seq[(String, String)], root: Path): SparkSession = {
    val local = root.resolve("spark-local")
    Files.createDirectories(local)
    val b = SparkSession.builder().master(s"local[$Cores]")
      .config("spark.local.dir", local.toString)
    confs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def report(a: Args, w: Workload, o: Outcome, setupS: Double,
      launchS: Double, steal: Double): Unit = {
    val calls = o.rounds.flatten ++ o.warmup
    val failed = calls.filter(_.error.isDefined)
    val warm = o.rounds.drop(1)
    val warmCalls = warm.flatten.map(_.seconds)
    val correct = failed.isEmpty && o.failedChecks.isEmpty
    val rss = Stats.peakRssMiB()
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "warm_s" -> (Stats.median(warm.map(_.map(_.seconds).sum)), "s"),
      "cold_s" -> (o.rounds.head.map(_.seconds).sum, "s"),
      "call_p50_s" -> (Stats.quantile(warmCalls, 0.5), "s"),
      "call_p90_s" -> (Stats.quantile(warmCalls, 0.9), "s"),
      "written_mb" -> (Stats.median(o.writtenBytes.map(_.toDouble)) / 1e6,
        "MB"),
      "peak_rss_mb" -> (rss, "MiB"),
      "success_rate" -> (1.0 - failed.size.toDouble / calls.size, "ratio"))
    val metrics =
      if (a.trace) o.layers.map { case (k, v) => k -> (v, unitOf(k)) }
      else e2e
    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "input_digest" -> o.inputDigest,
      "cpu_steal_frac" -> steal,
      "env" -> Json.obj(env(w): _*),
      "setup" -> Json.obj("total_s" -> setupS, "launch_s" -> launchS),
      "rounds" -> o.rounds.map(_.map(c => Json.obj("call" -> c.name,
        "s" -> c.seconds, "error" -> c.error))),
      "warmup" -> o.warmup.map(c => Json.obj("call" -> c.name,
        "s" -> c.seconds, "error" -> c.error)),
      "warm_calls" -> warmCalls.size,
      "warm_written_mb" -> o.writtenBytes.map(_ / 1e6),
      "failed_calls" -> failed.map(c => s"${c.name}: ${c.error.get}"),
      "failed_checks" -> o.failedChecks,
      "end_to_end" -> Json.obj(e2e.map { case (k, (v, _)) => k -> v }: _*),
      "detail" -> Json.obj(o.record: _*))
    Files.createDirectories(a.results)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.writeString(a.results.resolve(s"$tag.json"), record.toString + "\n")
    println(s"""{"perfbench_record": "${a.results.resolve(s"$tag.json")}"}""")
    o.failedChecks.foreach(c => System.err.println(s"perfbench check failed: $c"))
    failed.foreach(c =>
      System.err.println(s"perfbench call failed: ${c.name}: ${c.error.get}"))
    println(Json.obj(
      "correct" -> correct, "attempted" -> calls.size,
      "failed" -> failed.size,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj("value" -> v, "unit" -> u) }: _*)))
  }

  private def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("jobs") || m == "tasks" => "count"
    case "busy_frac" | "overhead_frac" => "ratio"
    case m if m.endsWith("_mb") => "MB"
    case _ => "s"
  }

  /** Settings a result depends on; results taken under different settings
    * must not be compared. */
  private def env(w: Workload): Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "master" -> s"local[$Cores]",
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "jdk" -> Seq("java.vm.name", "java.version").map(System.getProperty)
      .mkString(" "),
    "jvm_args" -> scala.jdk.CollectionConverters.ListHasAsScala(
      java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments).asScala.filterNot(_.startsWith("--add-opens"))
      .filterNot(_.startsWith("-Djava.io.tmpdir")).toSeq,
    "confs" -> w.confs.toMap)
}

/** One workload: its session confs, its set-up, and the timed loop. */
trait Workload {
  def confs: Seq[(String, String)]
  /** Generates the inputs; called once, before the first timed call. */
  def setup(): Unit
  def run(spark: SparkSession): Main.Outcome
  /** Removes everything the workload left under the root. */
  def cleanup(): Unit
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Peak resident set of this process (VmHWM), MiB. */
  def peakRssMiB(): Double = procField("/proc/self/status", "VmHWM:")
    .map(_ / 1024.0).getOrElse(Double.NaN)

  /** Collection time of every garbage collector so far, seconds. */
  def gcSeconds(): Double = scala.jdk.CollectionConverters.ListHasAsScala(
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans)
    .asScala.map(_.getCollectionTime).sum / 1e3

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: java.io.IOException => (0L, 1L) }

  /** Bytes this process has passed to write calls so far. */
  def writtenBytes(): Long =
    procField("/proc/self/io", "wchar:").getOrElse(0L)

  private def procField(file: String, key: String): Option[Long] =
    try {
      val src = scala.io.Source.fromFile(file)
      try src.getLines().find(_.startsWith(key))
        .map(_.drop(key.length).trim.split("\\s+")(0).toLong)
      finally src.close()
    } catch { case _: java.io.IOException => None }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(x => Files.deleteIfExists(x): Unit)
    finally s.close()
  }
}
