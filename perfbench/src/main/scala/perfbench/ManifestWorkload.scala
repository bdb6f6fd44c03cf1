package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.manifest.{AdaptiveThrottle, ManifestGen}
import graft.sources.FsListTable

/** `manifest_local` and `manifest_remote`: the paper's pipeline. One build
  * lists a tree through the `FsListSource` DataSource, saves it back
  * through the same connector's DSv2 overwrite write (which publishes a
  * `_SUCCESS` commit) and returns; one readback reads the committed
  * manifest with `ManifestGen.read` and runs a fixed downstream scan. */
object ManifestWorkload {
  final case class Inputs(src: String, keyPrefix: String, expected: Map[String, PrefixStat],
                          objects: Long, filterTop: String, dest: Path)

  val Format = "graft.sources.FsListSource"

  /** Object counts and store behaviour. */
  val LocalObjects = 100000
  val RemoteObjects = 100000
  val RemoteLatencyMs = 10L
  val RemoteFaultEvery = 20

  def generate(workload: String, seed: Long, work: Path): Inputs = {
    val dest = work.resolve("manifest")
    Layout.deleteTree(dest)
    if (workload == "manifest_local") {
      val l = Layout.generate(seed, LocalObjects, tops = 10, flatShare = 0.2)
      val root = work.resolve("tree")
      Layout.deleteTree(root)
      Layout.writeTree(l, root, Runtime.getRuntime.availableProcessors)
      inputs(root.toString, root.toString + "/", l, dest)
    } else {
      val l = Layout.generate(seed, RemoteObjects, tops = 6, flatShare = 0.5)
      serve(l, "/inv/", RemoteLatencyMs, RemoteFaultEvery, seed)
      inputs(s"${StoreFs.Scheme}://bucket/inv", "/inv/", l, dest)
    }
  }

  def inputs(src: String, keyPrefix: String, l: Layout, dest: Path): Inputs = {
    val exp = Layout.expected(l, keyPrefix)
    // the prefix filter selects the largest nested prefix
    val top = exp.filter(_._1 != Layout.FlatPrefix).maxBy(_._2.count)._1
    Inputs(src, keyPrefix, exp, l.n.toLong, top, dest)
  }

  private def serve(l: Layout, keyPrefix: String, latencyMs: Long, faultEvery: Int,
                    seed: Long): Unit = {
    val order = l.rel.indices.sortBy(i => l.rel(i)).toArray
    StoreFs.install(new StoreFs.State(order.map(i => keyPrefix + l.rel(i)),
      order.map(l.sizes), order.map(l.mtimes), latencyMs, faultEvery, seed))
  }

  /** One untimed build and readback of a part of the input: loads and
    * compiles the code paths the timed builds take. Locally that is the
    * tree's largest nested prefix, so warming up creates no files; the
    * remote store serves a 5 000-key layout without latency or faults. */
  def warmUp(run: Harness.Run, workload: String, in: Inputs): Unit = {
    val dest = run.work.resolve("warmup_manifest")
    val real = StoreFs.state
    val (src, keyPrefix) =
      if (workload == "manifest_local") (s"${in.src}/${in.filterTop}", in.keyPrefix)
      else {
        serve(Layout.generate(run.seed + 1, 5000, tops = 6, flatShare = 0.5), "/warm/", 0L, 0,
          run.seed)
        (s"${StoreFs.Scheme}://bucket/warm", "/warm/")
      }
    try {
      run.spark.read.format(Format).option("path", src).load()
        .write.format(Format).option("path", dest.toString).mode("overwrite").save()
      downstream(ManifestGen.read(run.spark, dest.toString), keyPrefix, in.filterTop)
    } finally {
      StoreFs.install(real)
      Layout.deleteTree(dest)
    }
  }

  /** The fixed downstream scan: per top prefix the object count, total
    * size, newest LastModified and key digest, plus one prefix filter. */
  def downstream(m: DataFrame, keyPrefix: String, filterTop: String)
      : (Map[String, PrefixStat], (Long, Long)) = {
    val top = substring_index(substring(col("Key"), keyPrefix.length + 1, Int.MaxValue), "/", 1)
    val per = m.groupBy(top.as("top"))
      .agg(count(lit(1)), sum("Size"), max("LastModified"), bit_xor(xxhash64(col("Key"))))
      .collect().map { r: Row =>
        r.getString(0) -> PrefixStat(r.getLong(1), r.getLong(2),
          r.getTimestamp(3).getTime, r.getLong(4))
      }.toMap
    val f = m.filter(col("Key").startsWith(keyPrefix + filterTop + "/"))
      .agg(count(lit(1)), coalesce(sum("Size"), lit(0L))).collect()(0)
    (per, (f.getLong(0), f.getLong(1)))
  }

  private def checkManifest(in: Inputs, per: Map[String, PrefixStat],
                            filtered: (Long, Long)): Option[String] = {
    val want = in.expected(in.filterTop)
    if (per != in.expected) {
      val bad = (per.keySet ++ in.expected.keySet).toSeq.sorted
        .filter(k => per.get(k) != in.expected.get(k)).take(3)
        .map(k => s"$k: got ${per.get(k)} want ${in.expected.get(k)}")
      Some(s"per-prefix stats differ (rows ${per.values.map(_.count).sum} vs ${in.objects}): " +
        bad.mkString("; "))
    } else if (filtered != (want.count, want.bytes))
      Some(s"prefix filter ${in.filterTop}: got $filtered want ${(want.count, want.bytes)}")
    else None
  }

  private def schemaError(m: DataFrame): Option[String] = {
    val got = m.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    val want = ManifestGen.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
    if (got == want) None else Some(s"schema $got, want $want")
  }

  def run(run: Harness.Run, workload: String, in: Inputs): Unit = {
    val spark = run.spark
    val dest = in.dest.toString
    val throttleKey = s"${StoreFs.Scheme}://bucket"
    final case class Build(pass: Int, traced: Boolean, buildS: Double, readS: Double,
                           store: StoreFs.Counters, throttles: Long, opId: Long,
                           planS: Double, shards: Int, listS: Double, listOp: Long,
                           filesWritten: Int, bytes: Long)
    val builds = scala.collection.mutable.ArrayBuffer.empty[Build]
    val started = Trace.nowMs()
    var pass = 0
    while (pass == 0 || !run.warmPassDone(pass, started)) {
      val traced = run.tracing && pass % 2 == 0
      if (traced) run.trace.attach() else run.trace.detach()
      val passStart = Trace.nowMs()
      // traced passes also time the build's layers as separate calls
      var planS, listS = 0.0
      var shards = 0
      var listOp = -1L
      if (traced) {
        val p = run.op("FsListScan.planInputPartitions", pass, traced)(null) { _ =>
          val scan = new FsListTable(in.src, "/").newScanBuilder(CaseInsensitiveStringMap.empty())
            .build()
          shards = scan.toBatch.planInputPartitions().length
        }
        planS = p.wallS
        val l = run.op("list.noop", pass, traced)(
          spark.read.format(Format).option("path", in.src).load())(
          _.write.format("noop").mode("overwrite").save())
        listS = l.wallS
        listOp = l.id
      }
      val c0 = StoreFs.counters()
      val th0 = AdaptiveThrottle.snapshot().get(throttleKey).map(_.throttles).getOrElse(0L)
      val b = run.op("build", pass, traced)(
        spark.read.format(Format).option("path", in.src).load())(
        _.write.format(Format).option("path", dest).mode("overwrite").save())
      val store = StoreFs.counters() - c0
      val th = AdaptiveThrottle.snapshot().get(throttleKey).map(_.throttles).getOrElse(0L) - th0
      var result: (Map[String, PrefixStat], (Long, Long)) = (Map.empty, (0L, 0L))
      var schemaErr: Option[String] = None
      val r = run.op("readback", pass, traced)(ManifestGen.read(spark, dest)) { m =>
        schemaErr = schemaError(m)
        result = downstream(m, in.keyPrefix, in.filterTop)
      }
      if (b.ok && r.ok) {
        val err = schemaErr.orElse(checkManifest(in, result._1, result._2))
        run.check(s"manifest pass $pass", err.isEmpty, err.getOrElse(""))
      }
      val committed = committedFiles(in.dest)
      builds += Build(pass, traced, b.wallS, r.wallS, store, th, b.id, planS, shards, listS,
        listOp, committed.size, committed.map(Files.size).sum)
      run.endPass(pass, traced, (Trace.nowMs() - passStart) / 1000.0)
      pass += 1
    }
    run.trace.detach()

    // self-test: the same check must reject the manifest minus one row
    val m = ManifestGen.read(spark, dest)
    val dropKey = m.select("Key").head().getString(0)
    val (per, f) = downstream(m.filter(col("Key") =!= dropKey), in.keyPrefix, in.filterTop)
    val caught = checkManifest(in, per, f).isDefined
    run.info("selftest_dropped_row_caught") = caught
    run.check("self-test (one dropped row)", caught, "a manifest missing one row passed the check")

    val cold = builds.head
    val warm = builds.tail.toSeq
    // warm figures are medians over the untraced warm passes
    val warmUntraced = if (warm.exists(!_.traced)) warm.filter(!_.traced) else warm
    val buildS = Harness.median(warmUntraced.map(_.buildS))
    val readS = Harness.median(warmUntraced.map(_.readS))
    run.e2e ++= Seq(
      "cold_s" -> (cold.buildS + cold.readS),
      "warm_s" -> (buildS + readS),
      "objects_per_s" -> in.objects / buildS,
      "manifest_bytes_per_obj" -> cold.bytes.toDouble / in.objects,
      "readback_s" -> readS,
      "build_s" -> buildS,
      "objects" -> in.objects,
      "builds" -> builds.length)
    run.info("manifest_files") = cold.filesWritten
    run.info("pass_wall_s") = run.passes.map(_("wall_s"))

    // per-layer figures from the traced warm passes
    val tracedB = warm.filter(_.traced)
    if (tracedB.nonEmpty) {
      val st = Layers.of(run.trace)
      val untraced = warm.filter(!_.traced)
      def med(f: Build => Double) = Harness.median(tracedB.map(f))
      val byName = run.ops.filter(o => o.traced && o.pass > 0 && st.contains(o.id))
        .groupBy(_.name)
      def opMed(f: OpStats => Double): Double =
        byName.values.map(os => Harness.median(os.map(o => f(st(o.id))))).sum
      val commitS = Harness.median(tracedB.flatMap { b =>
        val ex = run.trace.spans.asScala.find(s => s.op == b.opId && s.name == "execute")
        st.get(b.opId).zip(ex).map { case (s, e) => (e.endMs - s.lastJobEndMs) / 1000.0 }
      })
      // the planner call is one call with no Spark work: no parts to check
      val checked = run.ops.filter(o => o.traced && o.pass > 0 && st.contains(o.id) &&
        o.name != "FsListScan.planInputPartitions").toSeq.map(o => o -> st(o.id).partsS)
      val perBuild = (f: Build => Double) => builds.map(f).sum / builds.length
      run.layers ++= Seq(
        "sources.plan_s" -> med(_.planS),
        "sources.shards" -> med(_.shards.toDouble),
        "sources.list_s" -> med(_.listS),
        "sources.objects_listed" -> Harness.median(tracedB.flatMap(b => st.get(b.listOp))
          .map(_.objectsListed.toDouble)),
        "sources.write_s" -> med(_.buildS),
        "sources.encode_commit_s" -> (med(_.buildS) - med(_.listS)),
        "sources.commit_s" -> commitS,
        "sources.files_written" -> med(_.filesWritten.toDouble),
        "manifest.read_s" -> med(_.readS),
        "manifest.retries" -> perBuild(_.store.retriesSeen.toDouble),
        "manifest.throttles" -> perBuild(_.throttles.toDouble),
        "manifest.peak_delay_ms" -> AdaptiveThrottle.snapshot().get(throttleKey)
          .map(_.peakDelayMs).getOrElse(0.0),
        "store.list_calls" -> perBuild(_.store.listCalls.toDouble),
        "store.keys_returned" -> perBuild(_.store.keysReturned.toDouble),
        "store.list_amplification" -> perBuild(_.store.keysReturned.toDouble) / in.objects,
        "store.wait_s" -> perBuild(_.store.waitS),
        "store.errors_injected" -> perBuild(_.store.errorsInjected.toDouble))
      Common.execLayers(run, opMed, st, checked,
        "construct span, Catalyst phases, SQL executions and job span, as one union of intervals")
      // readbacks, not builds: a traced build runs right after the traced
      // listing calls, which warm the same tree
      val tracedMed = med(_.readS)
      val plainMed = Harness.median(untraced.map(_.readS))
      run.layers("trace.overhead_frac") = if (plainMed > 0) tracedMed / plainMed - 1 else 0.0
    }
    Common.driftLayers(run)
    Layout.deleteTree(in.dest)
  }

  /** Part files named by the committed `_SUCCESS` fence. */
  def committedFiles(dest: Path): Seq[Path] = {
    val s = dest.resolve("_SUCCESS")
    if (!Files.exists(s)) Nil
    else Files.readAllLines(s).asScala.map(_.trim).filter(_.nonEmpty).map(dest.resolve).toSeq
  }
}
