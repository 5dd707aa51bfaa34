package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Per-layer counters and spans from traced passes. A layer is the repo
  * module a call lives in; jobs that carried no call's group form the
  * `untagged` layer. */
object Trace {
  val CounterNames = Seq("build_ms", "action_ms", "plan_ms", "jobs", "tasks",
    "exec_run_ms", "exec_cpu_ms", "gc_ms", "core_idle_ms", "fetch_wait_ms",
    "shuffle_bytes", "shuffle_records", "spill_bytes", "persist_mb",
    "failed_tasks", "input_rows", "rows_out")

  private def values(c: Counters, run: Option[CallRun], cores: Int): Map[String, Double] = {
    val buildMs = run.map(r => r.buildEndMs - r.startMs).getOrElse(0.0)
    val actionMs = run.map(r => r.endMs - r.buildEndMs).getOrElse(0.0)
    val spanMs = buildMs + actionMs
    Map(
      "build_ms" -> buildMs, "action_ms" -> actionMs, "plan_ms" -> c.planMs,
      "jobs" -> c.jobs.toDouble, "tasks" -> c.tasks.toDouble,
      "exec_run_ms" -> c.execRunMs.toDouble, "exec_cpu_ms" -> c.execCpuNs / 1e6,
      "gc_ms" -> c.gcMs.toDouble,
      "core_idle_ms" -> (if (run.isEmpty) 0.0 else spanMs * cores - c.execRunMs),
      "fetch_wait_ms" -> c.fetchWaitMs.toDouble,
      "shuffle_bytes" -> c.shuffleBytes.toDouble,
      "shuffle_records" -> c.shuffleRecords.toDouble,
      "spill_bytes" -> c.spillBytes.toDouble,
      "persist_mb" -> c.persistPeakBytes / (1024.0 * 1024.0),
      "failed_tasks" -> c.failedTasks.toDouble,
      "input_rows" -> c.inputRows.toDouble,
      "rows_out" -> (run.map(_.rows).getOrElse(0L) + c.rowsWritten).toDouble)
  }

  /** Counters of every call in one pass: (layer, metrics). */
  private def callValues(p: PassRun, cores: Int): Seq[(String, CallRun, Map[String, Double])] =
    p.runs.map(r => (r.call.layer, r, values(p.counters.getOrElse(r.group, new Counters),
      Some(r), cores)))

  /** `layer.counter` for every layer, summed over a pass's calls (peaks
    * take the max), then the median over traced passes; plus the share of
    * jobs and executor time no call's group claimed. */
  def perLayer(traced: Seq[PassRun], cores: Int): Map[String, Double] = {
    val perPass = traced.map { p =>
      val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      callValues(p, cores).foreach { case (layer, _, vs) =>
        vs.foreach { case (k, v) =>
          val key = s"$layer.$k"
          m(key) = if (k == "persist_mb") math.max(m(key), v) else m(key) + v
        }
      }
      val un = values(p.counters.getOrElse(Recorder.Untagged, new Counters), None, cores)
      un.foreach { case (k, v) => m(s"${Recorder.Untagged}.$k") = v }
      val all = p.counters.values
      val jobs = all.map(_.jobs).sum.toDouble
      val exec = all.map(_.execRunMs).sum.toDouble
      m("untagged.job_share") = if (jobs > 0) un("jobs") / jobs else 0.0
      m("untagged.exec_share") = if (exec > 0) un("exec_run_ms") / exec else 0.0
      m.toMap
    }
    val keys = PerfBench.Layers.flatMap(l => CounterNames.map(c => s"$l.$c")) ++
      Seq("untagged.job_share", "untagged.exec_share")
    keys.map(k => k -> PerfBench.median(perPass.map(_.getOrElse(k, 0.0)))).toMap
  }

  /** Spans of the traced passes, written once at the end of the run:
    * run → pass → step → call → {build, action}, one run id throughout,
    * the call's counters attached to its span. Times are epoch ms; a
    * span's `self_ms` is its duration minus its children's (children of
    * a span never overlap: the client is one thread). */
  def writeSpans(path: String, workload: String, seed: Long, traced: Seq[PassRun]): Unit = {
    val offset = System.currentTimeMillis() - System.nanoTime() / 1e6
    val runId = java.util.UUID.randomUUID().toString
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    var next = 0
    def span(name: String, parent: Option[Int], s: Double, e: Double,
             extra: Map[String, Any] = Map.empty): Int = {
      next += 1
      spans += Map("run_id" -> runId, "span_id" -> next, "parent" -> parent,
        "name" -> name, "start_ms" -> (s + offset), "end_ms" -> (e + offset)) ++ extra
      next
    }
    if (traced.nonEmpty) {
      val root = span(s"run:$workload", None, traced.head.startMs, traced.last.endMs,
        Map("seed" -> seed))
      traced.foreach { p =>
        val ps = span("pass", Some(root), p.startMs, p.endMs)
        val calls = callValues(p, PerfBench.Cores)
        p.stepSpans.zipWithIndex.foreach { case ((s0, s1), si) =>
          val ss = span(s"step:$si", Some(ps), s0, s1)
          calls.filter(_._2.key.startsWith(s"$si.")).foreach { case (layer, r, vs) =>
            val cs = span(s"$layer:${r.call.name}", Some(ss), r.startMs, r.endMs,
              Map("layer" -> layer, "counters" -> vs))
            span("build", Some(cs), r.startMs, r.buildEndMs)
            span("action", Some(cs), r.buildEndMs, r.endMs)
          }
        }
        p.counters.get(Recorder.Untagged).foreach { c =>
          span("untagged", Some(ps), p.startMs, p.endMs,
            Map("counters" -> values(c, None, PerfBench.Cores)))
        }
      }
    }
    def ms(sp: Map[String, Any]) =
      sp("end_ms").asInstanceOf[Double] - sp("start_ms").asInstanceOf[Double]
    val childMs = spans.groupBy(_("parent")).map { case (p, cs) => p -> cs.map(ms).sum }
    val withSelf = spans.map(sp => sp + ("self_ms" ->
      (ms(sp) - childMs.getOrElse(Some(sp("span_id")), 0.0))))
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), Json(withSelf))
  }
}
