package graftbench

/** Units of the per-layer metrics, by name. */
object PerLayer {
  def unit(name: String): String = name match {
    case n if n.endsWith("_us") => "us"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") || n.endsWith("_s_per_run") => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_pct") => "%"
    case n if n.endsWith("_cores") => "cores"
    case n if n.endsWith("_ratio") || n.endsWith("_skew") || n.endsWith("_per_candidate") ||
      n.endsWith("_eff") || n == "failed_ops" => "ratio"
    case _ => "count"
  }
}

/** The traced run's per-span table: one row per public call, with its jobs
  * named by call site, its self time (duration minus the time its jobs
  * cover) and the engine totals of those jobs. */
final case class SpanReport(text: String, rows: Seq[Map[String, Any]], jobs: Seq[Map[String, Any]])

object SpanReport {
  def apply(spans: Seq[TracedSpan]): SpanReport = {
    val rows = spans.zipWithIndex.map { case (t, i) =>
      Map[String, Any](
        "span" -> i, "layer" -> t.span.layer, "name" -> t.span.name, "seconds" -> t.span.seconds,
        "jobs" -> t.jobs.length, "covered_s" -> t.coveredS, "self_s" -> t.selfS,
        "coverage" -> (if (t.span.seconds > 0) t.coveredS / t.span.seconds else 0.0),
        "task_cpu_s" -> t.cpuS, "task_run_s" -> t.runS, "sched_delay_s" -> t.schedS, "gc_s" -> t.gcS,
        "shuffle_read_mb" -> t.shReadMb, "shuffle_write_mb" -> t.shWriteMb, "spill_mb" -> t.spillMb,
        "tasks" -> t.tasks, "stages" -> t.stages)
    }
    val jobs = spans.zipWithIndex.flatMap { case (t, i) =>
      t.jobs.map(j => Map[String, Any](
        "span" -> i, "job" -> j.id, "call_site" -> j.callSite,
        "seconds" -> math.max(0L, j.endMs - j.submitMs) / 1e3, "task_cpu_s" -> j.cpuNs / 1e9,
        "sched_delay_s" -> j.schedMs / 1e3, "shuffle_write_mb" -> j.shWriteB / 1e6,
        "stages" -> j.stages, "tasks" -> j.tasks))
    }
    // one line per span name (summed over calls), then one per call site
    val sb = new StringBuilder
    sb.append(f"${"layer.span"}%-34s ${"calls"}%5s ${"wall_s"}%8s ${"self_s"}%8s ${"cover"}%6s " +
      f"${"jobs"}%5s ${"cpu_s"}%8s ${"sched_s"}%8s ${"gc_s"}%7s ${"shufW_MB"}%9s ${"spill_MB"}%9s%n")
    spans.groupBy(t => s"${t.span.layer}.${t.span.name}").toSeq.sortBy(_._2.head.span.startMs).foreach {
      case (k, ts) =>
        val wall = ts.map(_.span.seconds).sum
        val cov = ts.map(_.coveredS).sum
        sb.append(f"$k%-34s ${ts.length}%5d $wall%8.3f ${ts.map(_.selfS).sum}%8.3f " +
          f"${if (wall > 0) cov / wall else 0.0}%6.2f ${ts.map(_.jobs.length).sum}%5d " +
          f"${ts.map(_.cpuS).sum}%8.3f ${ts.map(_.schedS).sum}%8.3f ${ts.map(_.gcS).sum}%7.3f " +
          f"${ts.map(_.shWriteMb).sum}%9.2f ${ts.map(_.spillMb).sum}%9.2f%n")
    }
    sb.append(f"%n${"span <- call site"}%-70s ${"jobs"}%5s ${"wall_s"}%8s ${"cpu_s"}%8s%n")
    spans.flatMap(t => t.jobs.map(j => (s"${t.span.name} <- ${j.callSite}", j)))
      .groupBy(_._1).toSeq.sortBy(_._2.head._2.submitMs).foreach { case (k, js) =>
        sb.append(f"$k%-70s ${js.length}%5d ${js.map(p => math.max(0L, p._2.endMs - p._2.submitMs)).sum / 1e3}%8.3f " +
          f"${js.map(_._2.cpuNs).sum / 1e9}%8.3f%n")
      }
    SpanReport(sb.toString, rows, jobs)
  }
}
