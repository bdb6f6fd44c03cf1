package perfbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `queries_light`: a frozen list of graded queries,
  * each timed to its full result, never to `count()`, which lets Catalyst
  * prune most of a plan away. Pass 0 is the cold pass in list order: it
  * writes each result to Parquet, the output run.py compares with the
  * DuckDB oracle, so checking costs no extra execution. Warm passes write to
  * the `noop` sink, in an order shuffled by the seed. */
object QueryWorkload {
  type Q = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Q])] = Seq(
    "CoreQueries" -> graft.ops.CoreQueries.queries,
    "RelationalQueries" -> graft.ops.RelationalQueries.queries,
    "EventQueries" -> graft.ops.EventQueries.queries,
    "MonitoringQueries" -> graft.ops.MonitoringQueries.queries,
    "ManifestFsQueries" -> graft.ops.ManifestFsQueries.queries,
    "MiscQueries" -> graft.ops.MiscQueries.queries,
    "SketchQueries" -> graft.ops.SketchQueries.queries,
    "DedupQueries" -> graft.ext.DedupQueries.queries,
    "DedupEvalQueries" -> graft.ext.DedupEvalQueries.queries,
    "SimilarityQueries" -> graft.ext.SimilarityQueries.queries,
    "GraphQueries" -> graft.ext.GraphQueries.queries,
    "TextQueries" -> graft.ext.TextQueries.queries,
    "Multimodal" -> graft.ext.Multimodal.queries,
    "PipelineQueries" -> graft.ext.PipelineQueries.queries,
    "SelectionQueries" -> graft.ext.SelectionQueries.queries,
    "CurationQueries" -> graft.ext.CurationQueries.queries)

  def warmUp(run: Harness.Run): Unit =
    run.spark.range(10000).selectExpr("id % 7 AS k").groupBy("k").count()
      .write.format("noop").mode("overwrite").save()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(run: Harness.Run): Unit = {
    val spark = run.spark
    val names = run.args("queries").split(",").toSeq
    val memoized = run.args.get("memoized").toSeq.flatMap(_.split(",")).toSet
    val tables = Layout.abs(run.args("tables")).toString
    val all: Map[String, Q] = modules.flatMap(_._2).toMap
    val moduleOf: Map[String, String] = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")

    val out = run.work.resolve("results")
    def runPass(pass: Int, order: Seq[String], traced: Boolean): Unit = {
      if (traced) run.trace.attach() else run.trace.detach()
      val t0 = Trace.nowMs()
      order.foreach { q =>
        run.op(q, pass, traced)(all(q)(spark, tables)) { df =>
          if (pass == 0) df.write.mode("overwrite").parquet(out.resolve(q).toString)
          else noop(df)
        }
      }
      run.endPass(pass, traced, (Trace.nowMs() - t0) / 1000.0)
    }

    val started = Trace.nowMs()
    runPass(0, names, run.tracing)
    val rnd = new scala.util.Random(run.seed)
    var pass = 1
    while (!run.warmPassDone(pass, started)) {
      runPass(pass, rnd.shuffle(names), run.tracing && pass % 2 == 0)
      pass += 1
    }
    run.trace.detach()

    val sfRoot = tables.stripSuffix("/")
    val oracle = graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1)).map { case (k, v) =>
      k -> v.replace(graft.ops.ManifestFsQueries.SfDirToken, sfRoot)
        .replace(graft.ops.ManifestFsQueries.SfBucketToken, new java.io.File(sfRoot).getName)
    }
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"), Json(oracle))

    val ops = run.ops.toSeq
    val cold = ops.filter(_.pass == 0)
    val warmAll = ops.filter(o => o.pass > 0 && o.ok)
    val warm = if (run.tracing) warmAll.filter(!_.traced) else warmAll
    val warmByQ = warm.groupBy(_.name).map { case (k, v) => k -> v.map(_.wallS) }
    val warmTimes = warm.map(_.wallS)
    val warmMed = warmByQ.map { case (q, ts) => q -> Harness.median(ts) }
    val warmSum = warmMed.values.sum
    run.e2e ++= Seq(
      "cold_s" -> cold.map(_.wallS).sum,
      "warm_s" -> warmSum,
      "suite_cold_s" -> cold.map(_.wallS).sum,
      "suite_warm_s" -> warmSum,
      "query_p50_s" -> Harness.median(warmTimes),
      "query_p90_s" -> Harness.percentile(warmTimes, 0.9),
      "query_samples" -> warmTimes.length,
      "queries" -> names.length,
      "warm_passes" -> (pass - 1))
    run.info("per_query") = names.map { q =>
      q -> Map("module" -> moduleOf(q), "cold_s" -> cold.find(_.name == q).map(_.wallS),
        "construct_cold_s" -> cold.find(_.name == q).map(_.constructS),
        "warm_median_s" -> warmMed.get(q))
    }.toMap

    if (run.tracing) {
      val st = Layers.of(run.trace)
      val traced = warmAll.filter(o => o.traced && st.contains(o.id))
      val byName = traced.groupBy(_.name)
      def opMed(f: OpStats => Double): Double =
        byName.values.map(os => Harness.median(os.map(o => f(st(o.id))))).sum
      Common.execLayers(run, opMed, st, traced.map(o => o -> st(o.id).partsS),
        "construct span, Catalyst phases, SQL executions and job span, as one union of intervals")
      val tracedByQ = byName.map { case (k, v) => k -> v.map(_.wallS) }
      val both = tracedByQ.keySet.intersect(warmByQ.keySet).toSeq
      val tSum = both.map(q => Harness.median(tracedByQ(q))).sum
      val uSum = both.map(q => Harness.median(warmByQ(q))).sum
      run.layers("trace.overhead_frac") = if (uSum > 0) tSum / uSum - 1 else 0.0
      run.layers("query.construct_s") = cold.map(_.constructS).sum
      run.layers("ext.memo_build_s") = cold.filter(o => memoized.contains(o.name)).map { o =>
        math.max(0.0, o.wallS - warmMed.getOrElse(o.name, o.wallS))
      }.sum
      modules.foreach { case (m, _) =>
        run.layers(s"module.${m}_s") =
          warmMed.filter(kv => moduleOf(kv._1) == m).values.sum
      }
    }
    Common.driftLayers(run)
  }
}
