package perfbench

import scala.collection.mutable.ArrayBuffer

/** Builds the traced run's span tree and per-op layer counters.
  *
  * Spans come from two clocks: the harness's own (op, engine.build,
  * exec.action, sinks.load; microseconds) and Spark's listener events
  * (Catalyst phases, jobs, stages, streaming batches; milliseconds). A span
  * nests in the innermost span that contains it within the trace's
  * resolution (1 ms); self time is assigned by a sweep in which every
  * instant of the op belongs to the deepest span active at that instant,
  * so the self times of an op add up to its wall time.
  */
object Trace {
  val resolutionUs = 1000L

  final case class Span(name: String, start: Long, end: Long) {
    var parent: Int = -1
    var depth: Int = 0
    def layer: String = if (name == "op") "harness" else name.takeWhile(_ != '.')
    def rank: Int = name match {
      case "op" => 0
      case "engine.build" | "exec.action" | "sinks.load" => 1
      case "streaming.startup" | "streaming.batch" => 2
      case n if n.startsWith("catalyst.") => 3
      case "exec.job" => 4
      case _ => 5
    }
  }

  private def canParent(p: Span, c: Span): Boolean =
    p.rank < c.rank && !(p.name.startsWith("catalyst.") && c.rank >= 4) &&
      p.start - resolutionUs <= c.start && c.end <= p.end + resolutionUs

  /** Nest `spans` (the op span first) and return (spans in tree order,
    * self time per span). */
  def nest(spans: Seq[Span]): (IndexedSeq[Span], IndexedSeq[Long]) = {
    val sorted = (spans.head +: spans.tail.sortBy(s => (s.start, -s.end, s.rank))).toIndexedSeq
    val parent = Array.fill(sorted.size)(-1)
    val stack = scala.collection.mutable.Stack[Int](0)
    for (i <- 1 until sorted.size) {
      while (stack.size > 1 && !canParent(sorted(stack.top), sorted(i))) stack.pop()
      parent(i) = stack.top
      stack.push(i)
    }
    // clip each span into its parent (parents precede their children), so
    // the sweep never gives a child's time to an instant outside its parent
    val out = ArrayBuffer[Span]()
    for (i <- sorted.indices) {
      val s = sorted(i)
      val c = if (i == 0) s else {
        val p = out(parent(i))
        val st = math.min(math.max(s.start, p.start), p.end)
        s.copy(start = st, end = math.min(math.max(s.end, st), p.end))
      }
      c.parent = parent(i)
      c.depth = if (i == 0) 0 else out(parent(i)).depth + 1
      out += c
    }
    (out.toIndexedSeq, selfTimes(out.toIndexedSeq))
  }

  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Long] = {
    val self = Array.fill(spans.size)(0L)
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    cuts.zip(cuts.tail).foreach { case (x, y) =>
      var best = -1
      spans.indices.foreach { i =>
        val s = spans(i)
        if (s.start <= x && s.end >= y &&
            (best < 0 || s.depth > spans(best).depth ||
              (s.depth == spans(best).depth && s.start >= spans(best).start))) best = i
      }
      if (best >= 0) self(best) += y - x
    }
    self.toIndexedSeq
  }

  def assemble(runs: Seq[Harness.OpRun], sr: SparkRecorder, st: StreamRecorder,
               qes: QeRecorder, cpus: Int): Any = {
    val jobs = sr.synchronized(sr.jobs.toList)
    val stages = sr.synchronized(sr.stages.toList)
    val execs = qes.synchronized(qes.execs.toList)
    val starts = st.synchronized(st.starts.toList)
    val batches = st.synchronized(st.batches.toList)
    val phaseName = Map("analysis" -> "catalyst.analyze", "optimization" -> "catalyst.optimize",
      "planning" -> "catalyst.plan")
    val allSpans = ArrayBuffer[Any]()
    val opsOut = runs.map { r =>
      val t0ms = r.t0 / 1000L
      val t1ms = r.t1 / 1000L + 1
      def inOp(ms: Long) = ms >= t0ms && ms <= t1ms
      def inUs(ms: Long, a: Long, b: Long) = ms * 1000L >= a - resolutionUs && ms * 1000L <= b + resolutionUs
      val isWrite = r.op.kind == "write"
      val opJobs = jobs.filter(j => inOp(j.startMs))
      val opStages = stages.filter(s => inOp(s.submitMs))
      val opExecs = execs.filter(q => inOp(q.startMs))
      val dfPhases = Option(r.df).map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
        .filter { case (k, v) => k == "analysis" && inOp(v.startTimeMs) }
        .map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      val phaseSpans = (dfPhases.toSeq ++ opExecs.flatMap(_.phases.toSeq))
        .filter { case (_, (a, _)) => inOp(a) }
        .map { case (k, (a, b)) => Span(phaseName.getOrElse(k, s"catalyst.$k"), a * 1000L, b * 1000L) }
      val opStarts = starts.filter(s => inOp(s.ms))
      val opIds = opStarts.map(_.id).toSet
      val opBatches = batches.filter(b => inOp(b.startMs))
      val startupSpans = opStarts.flatMap { s =>
        batches.filter(_.id == s.id).map(_.startMs).sorted.headOption
          .map(b => Span("streaming.startup", s.ms * 1000L, b * 1000L))
      }
      val spans = Seq(Span("op", r.t0, r.t1), Span("engine.build", r.t0, r.b1),
        Span(if (isWrite) "sinks.load" else "exec.action", r.a0, r.a1)) ++
        phaseSpans ++ startupSpans ++
        opBatches.map(b => Span("streaming.batch", b.startMs * 1000L,
          (b.startMs + b.durations.getOrElse("triggerExecution", 0L)) * 1000L)) ++
        opJobs.map(j => Span("exec.job", j.startMs * 1000L, j.endMs * 1000L)) ++
        opStages.map(s => Span("exec.stage", s.submitMs * 1000L, s.doneMs * 1000L))
      val (tree, self) = nest(spans)
      val base = allSpans.size
      tree.indices.foreach { i =>
        val s = tree(i)
        allSpans += J.obj("id" -> (base + i), "name" -> s.name, "op" -> r.op.id,
          "parent" -> (if (i == 0) null else base + s.parent),
          "start_us" -> s.start, "end_us" -> s.end, "self_us" -> self(i))
      }
      val selfByLayer = tree.indices.groupBy(i => tree(i).layer)
        .map { case (l, is) => l -> is.map(self).sum }
      val buildJobs = opJobs.filter(j => inUs(j.startMs, r.t0, r.b1))
      val loadStages = opStages.filter(s => inUs(s.submitMs, r.a0, r.a1))
      val actionQe = opExecs.filter(q => inUs(q.startMs, r.a0, r.a1)).lastOption
      def phaseMs(k: String) = (dfPhases.toSeq ++ opExecs.flatMap(_.phases.toSeq))
        .collect { case (`k`, (a, b)) => (b - a).toDouble }.sum
      val wallMs = (r.t1 - r.t0) / 1000.0
      val taskRun = opStages.map(_.runMs).sum
      val opBatchIds = opBatches.map(_.id).toSet ++ opIds
      val lastState = opBatchIds.toSeq.flatMap(id => opBatches.filter(_.id == id).lastOption)
      val m = Map[String, Any](
        "engine.build_ms" -> (r.b1 - r.t0) / 1000.0,
        "engine.build_jobs" -> buildJobs.size,
        "engine.build_job_ms" -> buildJobs.map(j => j.endMs - j.startMs).sum,
        "sources.input_bytes" -> opStages.map(_.inBytes).sum,
        "sources.input_records" -> opStages.map(_.inRecords).sum,
        "sources.rest_requests" -> r.restRequests,
        "catalyst.analyze_ms" -> phaseMs("analysis"),
        "catalyst.optimize_ms" -> phaseMs("optimization"),
        "catalyst.plan_ms" -> phaseMs("planning"),
        "catalyst.plan_nodes" -> actionQe.map(_.planNodes).getOrElse(0),
        "catalyst.graft_nodes" -> actionQe.map(_.graftNodes).getOrElse(0),
        "exec.action_ms" -> (r.a1 - r.a0) / 1000.0,
        "exec.task_cpu_ms" -> opStages.map(_.cpuMs).sum,
        "exec.gc_ms" -> opStages.map(_.gcMs).sum,
        "exec.shuffle_read_bytes" -> opStages.map(_.shuffleRead).sum,
        "exec.shuffle_write_bytes" -> opStages.map(_.shuffleWrite).sum,
        "exec.spill_bytes" -> opStages.map(_.spill).sum,
        "exec.jobs" -> opJobs.size,
        "exec.stages" -> opStages.size,
        "exec.tasks" -> opStages.map(_.tasks).sum,
        "exec.task_run_ms" -> taskRun,
        "exec.failed_tasks" -> opStages.map(_.failedTasks).sum,
        "exec.core_idle_share" -> (if (wallMs > 0) 1.0 - taskRun / (wallMs * cpus) else 0.0),
        "memo.persisted_rdds" -> r.persisted,
        "memo.storage_bytes" -> r.storageBytes,
        "sinks.load_ms" -> (if (isWrite) (r.a1 - r.a0) / 1000.0 else 0.0),
        "sinks.records_written" -> (if (isWrite) loadStages.map(_.outRecords).sum else 0L),
        "sinks.bytes_written" -> (if (isWrite) loadStages.map(_.outBytes).sum else 0L),
        "sinks.files_written" -> Option(r.sinkPath).map(p =>
          Option(new java.io.File(p).listFiles()).getOrElse(Array.empty[java.io.File])
            .count(f => f.getName.startsWith("part-"))).getOrElse(0),
        "streaming.queries" -> opStarts.size,
        "streaming.batches" -> opBatches.size,
        "streaming.startup_ms" -> startupSpans.map(s => (s.end - s.start) / 1000.0).sum,
        "streaming.plan_ms" -> opBatches.map(_.durations.getOrElse("queryPlanning", 0L)).sum,
        "streaming.add_batch_ms" -> opBatches.map(_.durations.getOrElse("addBatch", 0L)).sum,
        "streaming.commit_ms" -> opBatches.map(b =>
          b.durations.getOrElse("walCommit", 0L) + b.durations.getOrElse("commitOffsets", 0L)).sum,
        "streaming.state_rows" -> lastState.map(_.stateRows).sum,
        "streaming.state_bytes" -> lastState.map(_.stateBytes).sum)
      J.obj("id" -> r.op.id, "kind" -> r.op.kind, "name" -> Option(r.op.query).getOrElse(r.op.id),
        "ok" -> r.ok, "wall_us" -> (r.t1 - r.t0), "metrics" -> m, "self_us" -> selfByLayer)
    }
    J.obj("resolution_us" -> resolutionUs, "cpus" -> cpus, "ops" -> opsOut, "spans" -> allSpans.toSeq)
  }
}
