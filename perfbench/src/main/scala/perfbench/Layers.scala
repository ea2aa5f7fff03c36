package perfbench

/** Per-layer metrics of a traced run: span totals per warm round, then the
  * median over the traced rounds. Every workload reports every name; a
  * layer a workload never calls reads 0. */
object Layers {
  val NcaggLayers: Seq[String] = Seq("ingest", "aggregate", "nc_write")

  /** Registry families, by query-name prefix. */
  val Families: Seq[String] =
    Seq("q_agg", "q", "d", "ann", "emb", "mm", "t", "stream")

  def family(query: String): String =
    if (query.startsWith("q_agg")) "q_agg"
    else {
      val head = query.takeWhile(_ != '_')
      if (Families.contains(head)) head else "q"
    }

  /** The per-layer metric names, in the order BENCHMARK.json lists them. */
  val Names: Seq[String] = Seq(
    "job.wall_s", "job.self_s",
    "ingest.wall_s", "ingest.busy_frac", "ingest.tasks", "ingest.jobs",
    "aggregate.wall_s", "aggregate.busy_frac", "aggregate.jobs",
    "aggregate.tasks", "aggregate.shuffle_mb", "aggregate.spill_mb",
    "nc_write.wall_s", "nc_write.busy_frac", "nc_write.jobs",
    "nc_write.product_mb",
    "query.wall_s", "query.self_s",
    "construct.wall_s", "construct.jobs",
    "execute.wall_s", "execute.jobs", "execute.tasks", "execute.busy_frac",
    "execute.shuffle_mb", "execute.spill_mb") ++
    Families.flatMap(f => Seq(s"family.$f.wall_s", s"family.$f.jobs")) ++
    Seq("trace.overhead_frac", "trace.unattributed_jobs")

  /** @param rounds the spans of each traced warm round
    * @param overhead traced over untraced round time, minus one */
  def metrics(tr: Trace, rounds: Seq[Seq[Trace.Span]], overhead: Double,
      productMb: Double = 0.0): Seq[(String, Double)] = {
    val keys: Seq[(String, Trace.Span => Boolean)] =
      Seq("job", "ingest", "aggregate", "nc_write", "query", "construct",
        "execute").map(k => k -> ((s: Trace.Span) => s.name == k)) ++
        Families.map(f => s"family.$f" -> ((s: Trace.Span) =>
          s.name == "query" && s.attrs.get("family").contains(f)))
    def perRound(spans: Seq[Trace.Span]): Map[String, Double] = {
      val children = spans.groupBy(_.parent)
      // Spark work is charged to the innermost open span, so a span's
      // counts include those of its descendants
      def subtree(s: Trace.Span): Seq[Trace.Span] =
        s +: children.getOrElse(Some(s.id), Nil).flatMap(subtree)
      keys.flatMap { case (k, sel) =>
        val ss = spans.filter(sel)
        val all = ss.flatMap(subtree)
        val wall = ss.map(_.durNs).sum / 1e9
        val busy = all.map(_.executorRunMs).sum / 1e3
        Seq(
          s"$k.wall_s" -> wall,
          s"$k.self_s" -> ss.map(tr.selfNs).sum / 1e9,
          s"$k.busy_frac" -> (if (wall > 0) busy / (wall * Main.Cores) else 0.0),
          s"$k.jobs" -> all.map(_.jobs).sum.toDouble,
          s"$k.tasks" -> all.map(_.tasks).sum.toDouble,
          s"$k.shuffle_mb" -> all.map(_.shuffleBytes).sum / 1e6,
          s"$k.spill_mb" -> all.map(_.spillBytes).sum / 1e6)
      }.toMap
    }
    val per = rounds.map(perRound)
    val fixed = Map(
      "nc_write.product_mb" -> productMb,
      "trace.overhead_frac" -> overhead,
      "trace.unattributed_jobs" -> tr.unattributed.toDouble)
    Names.map { n =>
      n -> fixed.getOrElse(n, Stats.median(per.map(_(n))))
    }
  }
}
