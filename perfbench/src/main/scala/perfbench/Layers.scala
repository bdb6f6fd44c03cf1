package perfbench

/** Per-operation figures read off the trace: listener records joined to
  * the harness's spans by operation id. */
final case class OpStats(jobs: Int, stages: Int, tasks: Int, stageUnionS: Double,
                         runS: Double, cpuS: Double, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long, peakMem: Long, analysisS: Double, optimizationS: Double,
                         planningS: Double, objectsListed: Long, lastJobEndMs: Double,
                         gapS: Double, partsS: Double) {
  def phasesS: Double = analysisS + optimizationS + planningS
}

object Layers {
  /** Parts of an operation's wall time, each measured on its own and laid
    * on one time axis: the construct span, every Catalyst phase interval,
    * every SQL execution interval (Spark's own start and end events around
    * executing a planned query: adaptive planning, code generation, the
    * jobs and stages, a write's commit) and the execute span's job span.
    * `partsS` is the length of their union, so nothing is counted twice.
    * What is left over is time the trace does not explain: driver work
    * outside any Spark execution, or listener records lost or joined to
    * the wrong operation. Each operation's leftover share must stay within
    * this tolerance, which the run states. */
  val PartsTolerance = 0.15

  def of(trace: Trace): Map[Long, OpStats] = {
    import scala.jdk.CollectionConverters._
    trace.drain()
    val spans = trace.spans.asScala.toSeq
    val exec = spans.filter(_.name == "execute").map(s => s.op -> s).toMap
    val constructSpan =
      spans.filter(_.name == "construct").map(s => s.op -> (s.startMs, s.endMs)).toMap
    val jobs = trace.jobRecs.groupBy(_.op)
    val stages = trace.stages.asScala.toSeq.groupBy(_.op)
    val tasks = trace.tasks.asScala.toSeq.groupBy(_.op).map { case (k, v) => k -> v.size }
    // operations run one at a time: a query execution belongs to the
    // operation whose root span holds its start
    val roots = spans.filter(_.parent == 0L).sortBy(_.startMs).toArray
    def opAt(ms: Long): Long = {
      val i = roots.lastIndexWhere(_.startMs <= ms + 1)
      if (i >= 0 && ms <= roots(i).endMs + 1) roots(i).op else -1L
    }
    val phases = trace.phases.asScala.toSeq.groupBy(p => opAt(p.startMs))
    val executions = trace.executions.asScala.toSeq.groupBy(x => opAt(x.startMs))
    exec.map { case (op, ex) =>
      val st = stages.getOrElse(op, Nil)
      val ph = phases.getOrElse(op, Nil)
      val union = Trace.unionMs(st.map(s => (s.submitMs.toDouble, s.doneMs.toDouble))) / 1000.0
      val execJobs = jobs.getOrElse(op, Nil).filter(j => j.startMs >= ex.startMs - 1 && j.endMs > 0)
      val execPh = ph.filter(_.startMs >= ex.startMs - 1)
      val phS = execPh.map(p => p.analysisMs + p.optimizationMs + p.planningMs).sum / 1000.0
      val jobSpan =
        if (execJobs.isEmpty) Nil
        else Seq((execJobs.map(_.startMs).min.toDouble, execJobs.map(_.endMs).max.toDouble))
      val root = roots.find(_.op == op)
      val (lo, hi) = root.map(r => (r.startMs, r.endMs)).getOrElse((ex.startMs, ex.endMs))
      val partIv = (constructSpan.get(op).toSeq ++
        ph.flatMap(_.intervals.map { case (s, e) => (s.toDouble, e.toDouble) }) ++
        executions.getOrElse(op, Nil).map(x => (x.startMs.toDouble, x.endMs.toDouble)) ++ jobSpan)
        .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      val execUnion = Trace.unionMs(st.filter(_.submitMs >= ex.startMs - 1)
        .map(s => (s.submitMs.toDouble, s.doneMs.toDouble))) / 1000.0
      op -> OpStats(
        jobs = jobs.getOrElse(op, Nil).size, stages = st.size, tasks = tasks.getOrElse(op, 0),
        stageUnionS = union, runS = st.map(_.runMs).sum / 1000.0,
        cpuS = st.map(_.cpuNs).sum / 1e9, shuffleRead = st.map(_.shuffleRead).sum,
        shuffleWrite = st.map(_.shuffleWrite).sum, spill = st.map(_.spill).sum,
        peakMem = if (st.isEmpty) 0L else st.map(_.peakMem).max,
        analysisS = ph.map(_.analysisMs).sum / 1000.0,
        optimizationS = ph.map(_.optimizationMs).sum / 1000.0,
        planningS = ph.map(_.planningMs).sum / 1000.0,
        objectsListed = ph.map(_.objectsListed).sum,
        lastJobEndMs = if (execJobs.isEmpty) ex.endMs else execJobs.map(_.endMs).max.toDouble,
        gapS = ex.durS - execUnion - phS,
        partsS = Trace.unionMs(partIv) / 1000.0)
    }
  }
}
