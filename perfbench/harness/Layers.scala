package perfbench

import java.io.{BufferedWriter, FileWriter}

import scala.jdk.CollectionConverters._

/** Turns the traced calls of a phase and the listener records into spans
  * and per-layer metrics.
  *
  * Each traced op is a root span; its Spark jobs (`exec`), its Catalyst
  * phases (`plan`, from the SQL executions it ran and from the bench's
  * own reading of a query's `QueryExecution.tracker`) and its bench-side
  * steps (e.g. `retrieval` prompt rendering) are child spans sharing the
  * op's id. A layer's self time is the part
  * of the op its spans cover and no lower layer covers; whatever no
  * child covers is the self time of the layer that owns the op
  * (`alma` for facade calls, `operators` for batch queries). Store
  * probes are their own root spans in layer `store`.
  */
object Layers {
  val Kinds = Seq("retrieve", "retrieve_batch", "learn", "add_knowledge", "feedback", "maintain", "query")
  val LayerNames = Seq("alma", "store", "plan", "exec", "retrieval", "operators")
  val ProbeKind = "store_probe"

  private val PhaseMetric = Map("analysis" -> "analysis_ms", "optimization" -> "optimizer_ms",
    "planning" -> "planning_ms")

  /** Total length of the union of `[s, e)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    c.foreach { case (s, e) =>
      if (curE < 0 || s > curE) { if (curE >= 0) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  def compute(ops: Seq[Op], tr: Tracer, spansPath: String): (Map[String, Double], Long) = {
    val jobsByCall = tr.jobs.values.asScala.toSeq.groupBy(j => Option(j.group).getOrElse(""))
    val execsByCall = tr.execCall.asScala.toSeq.groupBy(_._2).map { case (c, es) => c -> es.map(_._1) }
    val probes = ops.filter(o => o.traced && o.kind == ProbeKind)
    val work = ops.filter(o => o.traced && o.kind != ProbeKind)
    val ownerLayer = (k: String) => if (k == "query") "operators" else "alma"

    val out = new BufferedWriter(new FileWriter(spansPath))
    def span(trace: String, id: String, parent: String, layer: String, name: String,
        s: Long, e: Long, attrs: Seq[(String, String)] = Nil): Unit = {
      out.write(Json.obj(Seq("trace" -> Json.str(trace), "span" -> Json.str(id),
        "parent" -> (if (parent == null) "null" else Json.str(parent)),
        "layer" -> Json.str(layer), "name" -> Json.str(name),
        "start_ms" -> s.toString, "end_ms" -> e.toString) ++ attrs))
      out.write('\n')
    }

    val selfMs = scala.collection.mutable.Map[String, Double]().withDefaultValue(0.0)
    val perKind = scala.collection.mutable.Map[(String, String), Double]().withDefaultValue(0.0)

    work.foreach { op =>
      val (s, e) = (op.startMs, math.max(op.endMs, op.startMs))
      val jobs = jobsByCall.getOrElse(op.id, Nil)
      val (planKids, benchKids) = op.children.partition(_.layer == "plan")
      val phases = execsByCall.getOrElse(op.id, Nil).flatMap(x => Option(tr.execPhases.get(x)).getOrElse(Nil)) ++
        planKids.map(c => (c.name, c.startMs, c.endMs))
      span(op.id, op.id, null, ownerLayer(op.kind), op.kind, s, e,
        Seq("latency_ms" -> Json.num(op.latencyMs), "ok" -> op.ok.toString,
          "fs_read_ops" -> op.fsReadOps.toString, "fs_write_ops" -> op.fsWriteOps.toString))
      jobs.foreach { j =>
        val je = if (j.endMs < 0) j.startMs else j.endMs
        span(op.id, s"job-${j.jobId}", op.id, "exec", "job", j.startMs, je,
          Seq("tasks" -> j.tasks.toString, "cpu_ms" -> Json.num(j.cpuNs / 1e6),
            "run_ms" -> j.runMs.toString, "sql_execution" -> j.execId.toString))
      }
      phases.foreach { case (p, ps, pe) => span(op.id, s"${op.id}/$p/$ps", op.id, "plan", p, ps, pe) }
      benchKids.foreach(c => span(op.id, s"${op.id}/${c.name}", op.id, c.layer, c.name, c.startMs, c.endMs,
        Seq("dur_ms" -> Json.num(c.durMs))))

      val jIv = jobs.map(j => (j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
      val pIv = phases.collect { case (p, ps, pe) if p != "parsing" => (ps, pe) }
      val ex = covered(jIv, s, e)
      val exPlan = covered(jIv ++ pIv, s, e)
      // Bench-side children run after the facade call returns, outside
      // its jobs and phases; their exact durations are below the
      // millisecond resolution of the wall-clock intervals.
      val childMs = benchKids.map(_.durMs).sum
      selfMs("exec") += ex
      selfMs("plan") += exPlan - ex
      benchKids.foreach(c => selfMs(c.layer) += c.durMs)
      selfMs(ownerLayer(op.kind)) += math.max(0.0, op.latencyMs - exPlan - childMs)

      val k = op.kind
      def add(m: String, v: Double): Unit = perKind((m, k)) += v
      add("calls", 1)
      add("alma.jobs", jobs.size)
      add("alma.gap_ms", math.max(0.0, op.latencyMs - ex - childMs))
      phases.foreach { case (p, ps, pe) => PhaseMetric.get(p).foreach(m => add("plan." + m, (pe - ps).toDouble)) }
      add("exec.job_ms", jIv.map { case (a, b) => (b - a).toDouble }.sum)
      add("exec.tasks", jobs.map(_.tasks).sum.toDouble)
      add("exec.cpu_ms", jobs.map(_.cpuNs).sum / 1e6)
      add("exec.run_ms", jobs.map(_.runMs).sum.toDouble)
      add("exec.gc_ms", jobs.map(_.gcMs).sum.toDouble)
      add("exec.sched_delay_ms", jobs.map(_.schedDelayMs).sum.toDouble)
      add("exec.input_bytes", jobs.map(_.inputBytes).sum.toDouble)
      add("exec.shuffle_write_bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble)
      add("exec.spill_bytes", jobs.map(_.spillBytes).sum.toDouble)
      add("fs.bytes_written", jobs.map(_.outputBytes).sum.toDouble)
      add("fs.read_ops", op.fsReadOps.toDouble)
      add("fs.write_ops", op.fsWriteOps.toDouble)
    }
    probes.foreach { p =>
      span(p.id, p.id, null, "store", p.kind, p.startMs, p.endMs, Seq("latency_ms" -> Json.num(p.latencyMs)))
      selfMs("store") += p.latencyMs
    }

    // Jobs that map to no recorded op: the attribution check.
    val opIds = ops.map(_.id).toSet
    val stray = tr.jobs.values.asScala.filterNot(j => j.group != null && opIds.contains(j.group))
    stray.foreach(j => span("", s"job-${j.jobId}", null, "exec", "unattributed_job", j.startMs, math.max(j.endMs, j.startMs)))
    out.close()

    val perCallMetrics = Seq("alma.jobs", "alma.gap_ms", "plan.analysis_ms", "plan.optimizer_ms",
      "plan.planning_ms", "exec.job_ms", "exec.tasks", "exec.cpu_ms", "exec.run_ms", "exec.gc_ms",
      "exec.sched_delay_ms", "exec.input_bytes", "exec.shuffle_write_bytes", "exec.spill_bytes",
      "fs.bytes_written", "fs.read_ops", "fs.write_ops")
    val means = for (m <- perCallMetrics; k <- Kinds) yield {
      val n = perKind(("calls", k))
      s"$m.$k" -> (if (n == 0) 0.0 else perKind((m, k)) / n)
    }
    val p50 = Kinds.map { k =>
      s"alma.p50_ms.$k" -> {
        val xs = work.filter(o => o.kind == k && o.ok).map(_.latencyMs)
        if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
    }
    val nWork = math.max(1, work.size).toDouble
    val self = LayerNames.map(l => s"self_ms.$l" -> selfMs(l) / nWork)
    // A retrieve served from RetrievalCache launches no Spark job.
    val retrieves = work.filter(o => o.kind == "retrieve" && o.ok)
    val hits = retrieves.count(o => jobsByCall.getOrElse(o.id, Nil).isEmpty)
    val prompts = work.flatMap(_.children).filter(_.name == "to_prompt").map(_.durMs)
    val retrieval = Seq(
      "retrieval.cache_base" -> retrieves.size.toDouble,
      "retrieval.cache_hit_ratio" -> (if (retrieves.isEmpty) 0.0 else hits.toDouble / retrieves.size),
      "retrieval.prompt_ms" -> (if (prompts.isEmpty) 0.0 else Stats.median(prompts)))
    val counts = Kinds.map(k => s"calls.$k" -> perKind(("calls", k))) ++ Seq(
      "trace.jobs" -> tr.jobs.size.toDouble,
      "trace.jobs_unattributed" -> stray.size.toDouble,
      "trace.sql_executions" -> tr.execCall.size.toDouble,
      "store.resolve_ms" -> (if (probes.isEmpty) 0.0 else Stats.median(probes.map(_.latencyMs))))
    ((means ++ p50 ++ self ++ counts ++ retrieval).toMap, stray.size.toLong)
  }
}
