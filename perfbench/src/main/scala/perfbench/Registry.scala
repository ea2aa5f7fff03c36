package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** A fixed sample of the operator registry, one query after another, each
  * forced with a noop write as `graft.Bench` does. `run.py` generates the
  * tables, picks the sample, orders it by the seed and counts each query's
  * oracle rows with DuckDB; this side times the passes and compares the
  * row counts. Pass 0 in the fresh process is the cold pass; the next
  * [[Registry.WarmupPasses]] passes are an untimed warm-up. */
object Registry {
  final case class Ran(call: Main.Call, rows: Option[Long])

  /** Untimed warm passes between the cold and the timed passes (JIT
    * warm-up). */
  val WarmupPasses = 1
}

final class Registry(a: Main.Args) extends Workload {
  import Main.{Call, Outcome}
  import Registry.Ran

  /** `graft.Bench`'s session confs. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> Main.Cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.timestampType" -> "TIMESTAMP_NTZ",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4000000",
    "spark.ui.enabled" -> "false",
    "spark.network.timeout" -> "600s",
    "spark.executor.heartbeatInterval" -> "30s",
    "spark.network.timeoutInterval" -> "60s")

  /** Nominal warm pass; turns `--seconds` into a pass count. */
  val PassS = 6.5


  private val tables = a.root.resolve("tables").toString
  /** (query, oracle row count), in the seed's order. */
  private val queries: Seq[(String, Long)] = {
    val src = scala.io.Source.fromFile(a.queries.get.toFile, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, c) = l.split('\t'); n -> c.toLong
    }.toList
    finally src.close()
  }

  def setup(): Unit = ()

  def cleanup(): Unit = ()

  /** One query, built and then forced; the row count comes from an
    * observation on the forced frame, so the check costs no extra pass. */
  private def query(spark: SparkSession, name: String,
      tr: Option[Trace]): Ran = {
    def in[A](span: String, attrs: (String, String)*)(body: => A): A =
      tr.fold(body)(_.span(span, attrs: _*)(body))
    val t0 = System.nanoTime()
    var rows: Option[Long] = None
    val err = try {
      in("query", "query" -> name, "family" -> Layers.family(name)) {
        val df = in("construct")(graft.SparkEntry.queries(name)(spark, tables))
        in("execute") {
          val obs = Observation()
          df.observe(obs, count(lit(1)).as("rows"))
            .write.format("noop").mode("overwrite").save()
          rows = Some(obs.get("rows").asInstanceOf[Long])
        }
      }
      None
    } catch {
      case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
    }
    Ran(Call(name, (System.nanoTime() - t0) / 1e9, err), rows)
  }

  private val gcPerPass = Seq.newBuilder[Double]

  private def pass(spark: SparkSession, tr: Option[Trace]): Seq[Ran] = {
    val gc0 = Stats.gcSeconds()
    val p = queries.map { case (n, _) => query(spark, n, tr) }
    gcPerPass += Stats.gcSeconds() - gc0
    p
  }

  def run(spark: SparkSession): Outcome = {
    val warmPasses = Main.warmRounds(a.seconds, PassS)
    val w0 = Stats.writtenBytes()
    val cold = pass(spark, None)
    val coldWritten = Stats.writtenBytes() - w0
    // the first warm passes still pay JIT warm-up; they are checked but
    // not timed
    val warmup = (1 to Registry.WarmupPasses).flatMap(_ => pass(spark, None))
    var mark = Stats.writtenBytes()
    val written = Seq.newBuilder[Long]
    def untracedPass(): Seq[Ran] = {
      val p = pass(spark, None)
      val now = Stats.writtenBytes()
      written += now - mark
      mark = now
      p
    }
    val (warm, layers, extra) =
      if (!a.trace) ((1 to warmPasses).map(_ => untracedPass()), Nil, Nil)
      else {
        val tr = new Trace(spark.sparkContext)
        val untraced = Seq.newBuilder[Seq[Ran]]
        val traced = Seq.newBuilder[(Seq[Ran], Seq[Trace.Span])]
        (0 until math.max(2, warmPasses / 2)).foreach { i =>
          def t(): Unit = {
            tr.start()
            val from = tr.all.size
            val p = pass(spark, Some(tr))
            tr.stop()
            traced += p -> tr.all.drop(from)
            mark = Stats.writtenBytes()
          }
          if (i % 2 == 0) { untraced += untracedPass(); t() }
          else { t(); untraced += untracedPass() }
        }
        val u = untraced.result()
        val tp = traced.result()
        def total(p: Seq[Ran]) = p.map(_.call.seconds).sum
        val layers = Layers.metrics(tr, tp.map(_._2),
          overhead = Stats.median(tp.map(p => total(p._1))) /
            Stats.median(u.map(total)) - 1)
        Files.createDirectories(a.results)
        val spans = a.results.resolve(s"${a.workload}-seed${a.seed}-spans.json")
        Files.writeString(spans, tr.json)
        (u ++ tp.map(_._1), layers, Seq("spans" -> spans.toString,
          "traced_pass_s" -> tp.map(p => total(p._1)),
          "untraced_pass_s" -> u.map(total)))
      }
    val passes = cold +: warm
    val expected = queries.toMap
    val mismatches = (passes.flatten ++ warmup).collect {
      case Ran(c, Some(r)) if r != expected(c.name) =>
        s"${c.name}: $r rows, oracle ${expected(c.name)}"
    }.distinct
    Outcome(
      rounds = passes.map(_.map(_.call)),
      warmup = warmup.map(_.call),
      writtenBytes = written.result(),
      failedChecks = mismatches,
      inputDigest = a.inputDigest,
      record = Seq("queries" -> queries.map(_._1),
        "gc_s" -> gcPerPass.result(),
        "cold_written_mb" -> coldWritten / 1e6) ++ extra,
      layers = layers)
  }
}
