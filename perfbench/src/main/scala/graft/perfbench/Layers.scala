package graft.perfbench

/** Turns the trace of the traced rounds into the per-layer metrics.
  *
  * A layer is one of the engine's modules, named by the first part of
  * the span name (`core.WorkCache.tryMerge` is in `core`). Spans named
  * `verb.*` and `round` are the benchmark's own frames around the calls.
  * Counts come from the first traced round, which the seed fixes, so
  * they repeat exactly between runs of one seed; times are medians over
  * all traced rounds.
  */
object Layers {
  val Modules = Seq("core", "plans", "operators", "sources", "streaming")

  def summarise(trace: Trace, rounds: Seq[Main.Round], gauges: Map[String, Double],
                spansOut: String): Map[String, Double] = {
    val stats = trace.stats()
    val byId = stats.map(s => s.span.id -> s).toMap
    def roundOf(s: trace.SpanStats): Int = {
      var cur = s.span
      while (cur.parent >= 0) cur = byId(cur.parent).span
      cur.id
    }
    val tops = stats.filter(_.span.name == "round").sortBy(_.span.startNs)
    val members = stats.groupBy(roundOf)
    def med(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else {
        val v = xs.sorted; val n = v.length
        if (n % 2 == 1) v(n / 2) else (v(n / 2 - 1) + v(n / 2)) / 2
      }
    val perRound = tops.map { top =>
      val ss = members.getOrElse(top.span.id, Nil)
      val wall = top.span.wallS
      def sum(f: trace.SpanStats => Double, m: Option[String] = None): Double =
        ss.filter(s => m.forall(_ == s.span.module)).map(f).sum
      def counter(name: String): Double =
        ss.map(_.span.counts.getOrElse(name, 0.0)).sum
      val base = Map(
        "driver_s" -> sum(_.driverS),
        "jobs" -> sum(_.jobs.toDouble),
        "tasks" -> sum(_.tasks.toDouble),
        "task_s" -> sum(_.taskS),
        "shuffle_bytes" -> sum(_.shuffleBytes.toDouble),
        "input_bytes" -> sum(_.inputBytes.toDouble),
        "bytes_written" -> counter("bytes_written"),
        "files_written" -> counter("files_written"),
        "core_util" -> sum(_.taskS) / (wall * Main.Cores),
        "core.tests" -> counter("tests"),
        "core.rounds" -> counter("rounds"),
        "operators.rows_rewritten" -> counter("rows_rewritten"),
        "user_bytes" -> counter("user_bytes"))
      base ++ Modules.flatMap { m =>
        Seq(s"$m.self_frac" -> sum(_.selfS, Some(m)) / wall,
          s"$m.jobs" -> sum(_.jobs.toDouble, Some(m)),
          s"$m.calls" -> ss.count(_.span.module == m).toDouble)
      }
    }
    val timeKeys = Set("driver_s", "task_s", "core_util") ++ Modules.map(m => s"$m.self_frac")
    val first = perRound.headOption.getOrElse(Map.empty[String, Double])
    val out = first.keys.map { k =>
      k -> (if (timeKeys(k)) med(perRound.map(_(k))) else first(k))
    }.toMap
    val written = perRound.map(_("bytes_written")).sum
    val user = perRound.map(_("user_bytes")).sum
    writeSpans(stats, spansOut)
    (out - "user_bytes") ++ gauges ++ Map(
      "write_amp" -> (if (user > 0) written / user else 0.0),
      "trace_overhead_frac" -> {
        val t = rounds.filter(_.traced).map(_.wallS)
        val u = rounds.filterNot(_.traced).map(_.wallS)
        if (t.isEmpty || u.isEmpty) 0.0 else med(t) / med(u) - 1.0
      })
  }

  /** Every span with its counters, for reading where a round's time
    * went; written once, at the end of the run.
    */
  private def writeSpans(stats: Seq[Trace#SpanStats], path: String): Unit = {
    val rows = stats.map { s =>
      Json.obj("id" -> s.span.id, "parent" -> s.span.parent, "name" -> s.span.name,
        "wall_s" -> s.span.wallS, "self_s" -> s.selfS, "driver_s" -> s.driverS,
        "jobs" -> s.jobs, "tasks" -> s.tasks, "task_s" -> s.taskS,
        "shuffle_bytes" -> s.shuffleBytes, "input_bytes" -> s.inputBytes,
        "counts" -> Json.obj(s.span.counts.toSeq.map { case (k, v) => k -> (v: Any) }: _*))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      rows.map(_.text).mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
