package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: set up, generate inputs, run the
  * workload's closed loop (one client: the next operation starts when the
  * previous one returns), check outputs, and write the artifact JSON.
  *
  * Usage: Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --out <artifact.json> [--queries a,b,..]
  *                [--memoized a,b,..] [--tables <dir>]
  */
object Harness {
  final case class Op(id: Long, name: String, pass: Int, traced: Boolean,
                      constructS: Double, execS: Double, ok: Boolean, error: String) {
    def wallS: Double = constructS + execS
  }

  final class Run(val spark: SparkSession, val args: Map[String, String], val trace: Trace) {
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val tracing: Boolean = args("trace") == "1"
    val work: Path = Layout.abs(args("work"))
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val failures = ArrayBuffer.empty[String]
    var checks, checksFailed = 0
    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    /** Times one operation: `construct` builds what `exec` runs. Every
      * operation gets a root span with construct and execute children. */
    def op(name: String, pass: Int, traced: Boolean)(construct: => DataFrame)
          (exec: DataFrame => Unit): Op = {
      val id = trace.nextId()
      trace.setCurrentOp(id)
      var df: DataFrame = null
      var cS, eS = 0.0
      val t0 = Trace.nowMs()
      val err =
        try {
          cS = trace.span(id, id, "construct") { df = construct }.durS
          eS = trace.span(id, id, "execute") { exec(df) }.durS
          null
        } catch { case NonFatal(e) =>
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
        }
      trace.spans.add(Span(id, 0L, id, name, t0, Trace.nowMs()))
      trace.setCurrentOp(-1L)
      val o = Op(id, name, pass, traced, cS, eS, err == null, err)
      if (err != null) failures += s"$name (pass $pass): $err"
      ops += o
      o
    }

    def check(name: String, ok: Boolean, detail: => String): Unit = {
      checks += 1
      if (!ok) { checksFailed += 1; failures += s"check $name: $detail" }
    }

    /** Leak and drift witness, recorded after every pass. */
    def endPass(pass: Int, traced: Boolean, wallS: Double): Unit = {
      val sc = spark.sparkContext
      val mem = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wallS,
        "persisted_rdds" -> sc.getPersistentRDDs.size, "storage_mem_bytes" -> mem,
        "heap_mb" -> Harness.heapAfterGcMb())
    }

    /** The closed loop stops once `seconds` have passed and enough warm
      * passes ran: three, so each operation has a median warm time, or
      * four when tracing (untraced and traced in turn: the traced passes
      * against the untraced ones give the tracing overhead). `pass`
      * passes are done. */
    def warmPassDone(pass: Int, started: Double): Boolean = {
      val elapsed = (Trace.nowMs() - started) / 1000.0
      val minWarm = if (tracing) 4 else 3
      pass - 1 >= minWarm && elapsed >= seconds
    }
  }

  /** Heap in use after a full GC. `settle` repeats GC and reading three
    * times with a pause and keeps the least: Spark's cleaner frees blocks
    * only after a GC has cleared their references, and background threads
    * allocate between a GC and the reading. */
  def heapAfterGcMb(settle: Boolean = false): Double =
    (1 to (if (settle) 3 else 1)).map { _ =>
      System.gc()
      if (settle) Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile. */
  def percentile(xs: Iterable[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  /** Least-squares slope of ys against 0, 1, 2, ... */
  def slope(ys: Seq[Double]): Double =
    if (ys.length < 2) 0.0
    else {
      val n = ys.length
      val mx = (n - 1) / 2.0
      val my = ys.sum / n
      val num = ys.indices.map(i => (i - mx) * (ys(i) - my)).sum
      val den = ys.indices.map(i => (i - mx) * (i - mx)).sum
      num / den
    }

  private def parseArgs(a: Array[String]): Map[String, String] =
    a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def loadAvg(): Double =
    try Files.readAllLines(Paths.get("/proc/loadavg")).get(0).split(" ")(0).toDouble
    catch { case NonFatal(_) => -1.0 }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val workload = args("workload")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cpus = Runtime.getRuntime.availableProcessors
    val work = Layout.abs(args("work"))
    Files.createDirectories(work)

    // inputs first, so generation neither competes with Spark start-up nor
    // counts as set-up
    val t0 = Trace.nowMs()
    val inputs: Any = workload match {
      case "manifest_local" | "manifest_remote" => ManifestWorkload.generate(workload, args("seed").toLong, work)
      case "queries_light" => ()
      case other => sys.error(s"unknown workload $other")
    }
    val genS = (Trace.nowMs() - t0) / 1000.0

    val sessionStart = Trace.nowMs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config(s"spark.hadoop.fs.${StoreFs.Scheme}.impl", classOf[StoreFs].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (Trace.nowMs() - sessionStart) / 1000.0
    val run = new Run(spark, args, new Trace(spark))
    run.info ++= Seq("workload" -> workload, "seed" -> run.seed, "nproc" -> cpus,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "spark_version" -> spark.version, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "gen_s" -> genS, "session_s" -> sessionS)

    val warmupStart = Trace.nowMs()
    workload match {
      case "manifest_local" | "manifest_remote" =>
        ManifestWorkload.warmUp(run, workload, inputs.asInstanceOf[ManifestWorkload.Inputs])
      case _ => QueryWorkload.warmUp(run)
    }
    run.info("warmup_s") = (Trace.nowMs() - warmupStart) / 1000.0
    // JVM start to the first timed operation, input generation excluded
    val setupS = (Trace.nowMs() - jvmStartMs) / 1000.0 - genS
    run.e2e("setup_s") = setupS
    run.info("load_1m_before_measure") = loadAvg()

    workload match {
      case "manifest_local" | "manifest_remote" =>
        ManifestWorkload.run(run, workload, inputs.asInstanceOf[ManifestWorkload.Inputs])
      case _ => QueryWorkload.run(run)
    }
    run.e2e("retained_heap_mb") = heapAfterGcMb(settle = true)
    if (run.tracing) {
      val w = Files.newBufferedWriter(run.work.resolve("trace.jsonl"))
      try run.trace.lines.foreach { l => w.write(l); w.newLine() } finally w.close()
    }
    val attempted = run.ops.length + run.checks
    val failed = run.ops.count(!_.ok) + run.checksFailed
    val artifact = Map(
      "workload" -> workload, "info" -> run.info, "e2e" -> run.e2e, "layers" -> run.layers,
      "attempted" -> attempted, "failed" -> failed, "failures" -> run.failures,
      "passes" -> run.passes,
      "ops" -> run.ops.map(o => Map("name" -> o.name, "pass" -> o.pass, "traced" -> o.traced,
        "construct_s" -> o.constructS, "exec_s" -> o.execS, "ok" -> o.ok,
        "error" -> o.error)))
    Files.writeString(Paths.get(args("out")), Json(artifact))
    spark.stop()
  }
}
