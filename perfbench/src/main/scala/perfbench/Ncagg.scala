package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.core.{AggConfig, Bounds}
import graft.sources.{Hdf5Reader, NetCDF4, NetCDFIngest, NetCDFWrite}

/** The ncagg product job: `.nc` granules in, one aggregated `.nc` out,
  * through `graft.Cli.run` exactly as a user calls it. */
object Ncagg {
  /** A few large granules: decode, regularization and the single-writer
    * encode run over every record. */
  val Bulk: Granules.Shape = Granules.Shape(granules = 8, records = 30000,
    channels = 16, overlap = 20, gapsPerGranule = 3, maxGap = 30,
    invalidPerGranule = 5, chunkRows = 4096)

  /** Nominal warm round; turns `--seconds` into a round count. */
  val RoundS = 4.0

  /** Untimed warm rounds between the cold and the timed rounds: job times
    * keep falling (JIT) over the first warm jobs of a process. */
  val WarmupRounds = 2

  /** `graft.Cli.main`'s session confs. */
  val CliConfs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.timestampType" -> "TIMESTAMP_NTZ",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000",
    "spark.ui.enabled" -> "false")

  /** `Cli.run`'s `-u udim:ivar:hz` and `-b` handling, for the traced
    * round that calls the layers itself. */
  def withUdim(config: AggConfig.Config, udim: String, ivar: String,
      hz: Seq[Double], bounds: String): AggConfig.Config = {
    val ivarDims = config.vars
      .find(v => v.mapTo.getOrElse(v.name) == ivar || v.name == ivar)
      .map(_.dimensions).getOrElse(Seq(udim))
    val (lo, hi) = Bounds.parse(bounds)
    config.copy(dims = config.dims.map { d =>
      if (d.name == udim)
        d.copy(indexBy = Some(ivar), expectedCadence = ivarDims.zip(hz).toMap,
          min = Some(lo), max = Some(hi))
      else d
    })
  }

  final case class Job(call: Main.Call, written: Long, gcS: Double,
      digest: String, productBytes: Long, fails: Seq[String])

  private def longs(x: AnyRef): Array[Long] = x match {
    case a: Array[Long] => a
    case a: Array[Int] => a.map(_.toLong)
    case a: Array[Short] => a.map(_.toLong)
    case other => sys.error(s"unexpected array ${other.getClass}")
  }

  /** Re-reads a product and compares it with the generator's truth.
    * Returns the failed checks and the product's data digest (every
    * dataset's name, shape and values; global attributes are left out
    * because the program stamps run-time values such as `date_created`
    * into them). */
  def check(product: String, t: Granules.Truth, channels: Int)
      : (Seq[String], String) = {
    val h5 = Hdf5Reader.open(product)
    try {
      def ds(n: String) = h5.datasets.find(_.name == n)
        .getOrElse(sys.error(s"product has no variable $n"))
      val time = h5.read(ds("time")).asInstanceOf[Array[Double]]
      val flux = h5.read(ds("flux")).asInstanceOf[Array[Float]]
      val counts = longs(h5.read(ds("counts")))
      val us = time.map(x => Granules.BaseUs + math.round(x * 1e6))
      val real = flux.indices.filterNot(i => flux(i).isNaN)
      var sum = 0L
      val row = new Array[Int](channels)
      real.foreach { i =>
        var c = 0
        while (c < channels) { row(c) = counts(i * channels + c).toInt; c += 1 }
        sum += Granules.rowHash(us(i), flux(i), row)
      }
      val fails = Seq(
        (us.length == t.slots) ->
          s"records ${us.length} != slots in bounds ${t.slots}",
        (real.size == t.present) ->
          s"non-fill records ${real.size} != planted valid unique ${t.present}",
        (us.length - real.size == t.slots - t.present) ->
          (s"fill records ${us.length - real.size} != missing slots " +
            s"${t.slots - t.present}"),
        us.sliding(2).forall(p => p.length < 2 || p(0) < p(1)) ->
          "times not strictly increasing",
        (us.isEmpty || (us.head >= t.loUs && us.last <= t.hiUs)) ->
          "times outside the bounds",
        (counts.length == us.length * channels) -> "counts shape",
        (sum == t.checksum) -> "checksum of non-fill (time, flux, counts)")
        .collect { case (false, msg) => msg }
      val md = java.security.MessageDigest.getInstance("SHA-256")
      h5.datasets.sortBy(_.name).foreach { d =>
        md.update(s"${d.name}${d.shape}".getBytes("UTF-8"))
        def buf(n: Int) = java.nio.ByteBuffer.allocate(n * 8)
        h5.read(d) match {
          case a: Array[Double] =>
            val b = buf(a.length); b.asDoubleBuffer().put(a); md.update(b.array())
          case a: Array[Float] =>
            val b = buf(a.length); b.asFloatBuffer().put(a); md.update(b.array())
          case a: Array[Long] =>
            val b = buf(a.length); b.asLongBuffer().put(a); md.update(b.array())
          case a: Array[Int] =>
            val b = buf(a.length); b.asIntBuffer().put(a); md.update(b.array())
          case a: Array[String] => a.foreach(x => md.update(x.getBytes("UTF-8")))
          case other => md.update(other.toString.getBytes("UTF-8"))
        }
      }
      (fails, md.digest().map(b => f"$b%02x").mkString)
    } finally h5.close()
  }
}

final class Ncagg(a: Main.Args) extends Workload {
  import Main.{Call, Outcome}
  import Ncagg.Job

  val confs: Seq[(String, String)] = Ncagg.CliConfs
  private val inputsRoot = a.root.resolve("inputs")
  private val jobsRoot = a.root.resolve("jobs")
  private var inputs: Granules.Inputs = _
  private val nullOut =
    new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

  def setup(): Unit =
    inputs = Granules.generate(inputsRoot, Ncagg.Bulk, a.seed)

  def cleanup(): Unit = {
    Stats.deleteTree(inputsRoot)
    Stats.deleteTree(jobsRoot)
  }

  private def bounds = s"${inputs.truth.loUs}:${inputs.truth.hiUs}"

  private def cliArgs(dst: String): Array[String] =
    ((dst +: inputs.paths) ++ Seq("-u", "time:time:1", "-b", bounds)).toArray

  private var jobNo = 0

  /** A fresh destination under the benchmark's root. */
  private def freshDst(): (Path, String) = {
    jobNo += 1
    val dir = jobsRoot.resolve(f"job-$jobNo%03d")
    Files.createDirectories(dir)
    (dir, dir.resolve("product.nc").toString)
  }

  /** Runs one job, checks its product, then deletes the destination
    * (with the `.__nc_ingest` and `.__work` directories the job leaves
    * beside it). */
  private def job(name: String)(body: String => Unit): Job = {
    val (dir, dst) = freshDst()
    val w0 = Stats.writtenBytes()
    val gc0 = Stats.gcSeconds()
    val t0 = System.nanoTime()
    val err =
      try { Console.withOut(nullOut)(body(dst)); None }
      catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val written = Stats.writtenBytes() - w0
    val gc = Stats.gcSeconds() - gc0
    val (fails, digest, size) =
      if (err.isDefined) (Nil, "", 0L)
      else try {
        val (f, d) = Ncagg.check(dst, inputs.truth, Ncagg.Bulk.channels)
        (f.map(m => s"$name: $m"), d, Files.size(java.nio.file.Paths.get(dst)))
      } catch {
        case e: Exception => (Seq(s"$name: product unreadable: $e"), "", 0L)
      }
    Stats.deleteTree(dir)
    Job(Call(name, secs, err), written, gc, digest, size, fails)
  }

  private def cliJob(spark: SparkSession): Job =
    job("Cli.run")(dst => graft.Cli.run(spark, cliArgs(dst)))

  /** The traced twin of [[cliJob]]: the three public layer functions,
    * called in `Cli.run`'s order with its arguments. */
  private def tracedJob(spark: SparkSession, tr: Trace): Job =
    job("Cli.run traced") { dst =>
      val srcs = inputs.paths
      tr.span("job") {
        val granules = tr.span("ingest") {
          NetCDFIngest.convert(spark, srcs, s"$dst.__nc_ingest",
            recDim = Some("time")).toList
        }
        val config = Ncagg.withUdim(NetCDF4.configFor(srcs.head),
          "time", "time", Seq(1.0), bounds)
        val attrs = tr.span("aggregate") {
          graft.Aggregate.run(spark, granules, s"$dst.__work", config,
            maxRecordsPerFile = 1 << 20)
        }
        tr.span("nc_write") {
          NetCDFWrite.write(spark, s"$dst.__work", dst, config, Some(attrs),
            NetCDFWrite.NcOpts(chunkRows = None))
        }
      }
    }

  def run(spark: SparkSession): Outcome = {
    val warmRounds = Main.warmRounds(a.seconds, Ncagg.RoundS)
    val cold = cliJob(spark)
    // the first warm jobs still pay JIT warm-up; they are checked but not
    // timed
    val warmup = (1 to Ncagg.WarmupRounds).map(_ => cliJob(spark))
    if (!a.trace) {
      val warm = (1 to warmRounds).map(_ => cliJob(spark))
      outcome(cold +: warm, warmup, Nil, Seq(
        "product_mb" -> Stats.median(warm.map(_.productBytes.toDouble)) / 1e6))
    } else {
      // untraced and traced warm rounds alternate; the pair order flips
      // each time so neither side always runs first
      val tr = new Trace(spark.sparkContext)
      val untraced = Seq.newBuilder[Job]
      val traced = Seq.newBuilder[(Job, Seq[Trace.Span])]
      (0 until math.max(2, warmRounds / 2)).foreach { i =>
        def t(): Unit = {
          tr.start()
          val from = tr.all.size
          val j = tracedJob(spark, tr)
          tr.stop()
          traced += j -> tr.all.drop(from)
        }
        if (i % 2 == 0) { untraced += cliJob(spark); t() }
        else { t(); untraced += cliJob(spark) }
      }
      val u = untraced.result()
      val tj = traced.result()
      val layers = Layers.metrics(tr, tj.map(_._2),
        overhead = Stats.median(tj.map(_._1.call.seconds)) /
          Stats.median(u.map(_.call.seconds)) - 1,
        productMb = Stats.median(tj.map(_._1.productBytes.toDouble)) / 1e6)
      Files.createDirectories(a.results)
      val spans = a.results.resolve(s"${a.workload}-seed${a.seed}-spans.json")
      Files.writeString(spans, tr.json)
      outcome(cold +: (u ++ tj.map(_._1)), warmup, layers, Seq(
        "spans" -> spans.toString,
        "traced_s" -> tj.map(_._1.call.seconds),
        "untraced_s" -> u.map(_.call.seconds)))
    }
  }

  /** Every product of one input set must have the same data digest, the
    * traced ones included. */
  private def outcome(timed: Seq[Job], warmup: Seq[Job],
      layers: Seq[(String, Double)], extra: Seq[(String, Any)]): Outcome = {
    val jobs = timed ++ warmup
    val ok = jobs.map(_.digest).filter(_.nonEmpty)
    val digestFail =
      if (ok.distinct.size <= 1) Nil
      else Seq(s"product data digests differ across jobs: ${ok.distinct}")
    Outcome(
      rounds = timed.map(j => Seq(j.call)),
      warmup = warmup.map(_.call),
      writtenBytes = timed.drop(1).map(_.written),
      failedChecks = jobs.flatMap(_.fails) ++ digestFail,
      inputDigest = inputs.digest,
      record = Seq("granules" -> inputs.paths.size,
        "input_mb" -> inputs.bytes / 1e6,
        "truth" -> inputs.truth.toString,
        "gc_s" -> timed.map(_.gcS),
        "product_digest" -> ok.headOption.getOrElse("")) ++ extra,
      layers = layers)
  }
}
