package perfbench

/** Per-layer figures every workload reports the same way. */
object Common {
  /** Catalyst phases, execution and the parts-sum check, from the traced
    * warm operations. `opMed` sums, over operation names, the median of a
    * per-operation figure. `checked` pairs each operation whose parts are
    * checked with the sum of its parts; every one whose parts miss its
    * wall time by more than the tolerance is a failed check, by name. */
  def execLayers(run: Harness.Run, opMed: (OpStats => Double) => Double,
                 st: Map[Long, OpStats], checked: Seq[(Harness.Op, Double)],
                 parts: String): Unit = {
    val errs = checked.map { case (o, partsS) =>
      val err = if (o.wallS > 0) math.abs(o.wallS - partsS) / o.wallS else 0.0
      val ok = err <= Layers.PartsTolerance
      run.check(s"parts-sum ${o.name} (pass ${o.pass})", ok,
        f"wall ${o.wallS}%.4f s, parts $partsS%.4f s, off by ${err * 100}%.1f %%")
      (o, partsS, err, ok)
    }
    run.layers ++= Seq(
      "spark.plan.analysis_s" -> opMed(_.analysisS),
      "spark.plan.optimization_s" -> opMed(_.optimizationS),
      "spark.plan.planning_s" -> opMed(_.planningS),
      "spark.exec.jobs" -> opMed(_.jobs.toDouble),
      "spark.exec.stages" -> opMed(_.stages.toDouble),
      "spark.exec.tasks" -> opMed(_.tasks.toDouble),
      "driver.gap_s" -> opMed(_.gapS),
      "spark.exec.stage_union_s" -> opMed(_.stageUnionS),
      "spark.exec.run_s" -> opMed(_.runS),
      "spark.exec.cpu_s" -> opMed(_.cpuS),
      "spark.exec.shuffle_read_bytes" -> opMed(_.shuffleRead.toDouble),
      "spark.exec.shuffle_write_bytes" -> opMed(_.shuffleWrite.toDouble),
      "spark.exec.spill_bytes" -> opMed(_.spill.toDouble),
      "spark.exec.peak_exec_mem_bytes" ->
        (if (st.isEmpty) 0.0 else st.values.map(_.peakMem).max.toDouble),
      "trace.parts_error_frac" -> (if (errs.isEmpty) 0.0 else errs.map(_._3).max),
      "trace.parts_ok" -> errs.count(_._4).toDouble)
    run.info("parts_sum") = Map("tolerance_frac" -> Layers.PartsTolerance,
      "checked" -> errs.length, "within" -> errs.count(_._4),
      "parts" -> parts,
      "ops" -> errs.map { case (o, p, e, _) =>
        Map("name" -> o.name, "pass" -> o.pass, "wall_s" -> o.wallS, "parts_s" -> p,
          "error_frac" -> e)
      })
  }

  /** Leak and drift witness summary: storage still held after the last
    * pass, and how warm pass time and retained heap move pass to pass. */
  def driftLayers(run: Harness.Run): Unit = {
    val last = run.passes.last
    val warm = run.passes.tail.filter(p => !p("traced").asInstanceOf[Boolean] || !run.tracing)
    val warmT = if (warm.nonEmpty) warm else run.passes.tail
    run.layers ++= Seq(
      "storage.persisted_rdds" -> last("persisted_rdds").asInstanceOf[Int].toDouble,
      "storage.mem_bytes" -> last("storage_mem_bytes").asInstanceOf[Long].toDouble,
      "drift.warm_slope_s" -> Harness.slope(warmT.map(_("wall_s").asInstanceOf[Double]).toSeq),
      "drift.heap_slope_mb" -> Harness.slope(run.passes.map(_("heap_mb").asInstanceOf[Double]).toSeq))
  }
}
