package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one session from the library's
  * own factory, measured for a fixed time. Inputs come ready-made from the
  * seeded generator (perfbench/gen.py); the run record goes to
  * `<out>/result.json` and, when traced, the spans to `<out>/trace.json`.
  *
  * {{{
  * Main --workload batch|serve --in <inputs> --out <dir> --seconds <n> --trace 0|1
  * }}}
  */
object Main {
  /** The batch pass: a medallion gate (a silver program over the star
    * schema; task compute and shuffle) followed by a curation gate (a
    * composed LLM-data chain over the document corpus; per-job floor). With
    * a gold mart added, the pass's generated classes sat at the 100-entry
    * capacity of Spark's codegen cache, and runs split into two modes: none
    * or 25-55 Janino compiles per pass. */
  val MedallionGates: Seq[String] = Seq("silver_inventory_items")
  val CurationGates: Seq[String] = Seq("text_dsir_sample")

  /** Spans inside the library call itself: gate functions, operator calls,
    * ingest and appends, eager jobs included. */
  val ConstructSpans: Set[String] = Set("queries.construct", "dedup.incremental_construct",
    "ann.ivf_construct", "lake.autoskip_open", "lake.append", "pipeline.process_file",
    "pipeline.skip")
  /** Spans inside the action that forces a returned DataFrame. */
  val ActionSpans: Set[String] = Set("queries.action", "dedup.incremental_action",
    "ann.ivf_action", "lake.lookup_action")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val (in, out) = (opt("in"), opt("out"))
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    Files.createDirectories(Paths.get(out))

    val steal0 = Host.stealJiffies()
    val cal0 = Host.calibrate()
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.local(Runtime.getRuntime.availableProcessors(),
      s"perfbench-$workload")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val spans = new Spans(false)
    val trace = if (traced) Some(new EngineTrace(spark)) else None
    var engine: Option[EngineTrace] = None // installed during traced units only
    val w: Workload = workload match {
      case "batch" =>
        new GateWorkload(spark, spans, MedallionGates ++ CurationGates,
          s"$in/tables", s"$out/verify", () => engine)
      case "serve" =>
        new ServeWorkload(spark, spans, s"$in/serve", s"$out/state", () => engine)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupParts = ("setup.session_s" -> sessionS) +: w.setup()
    val setupS = setupParts.map(_._2).sum

    // Measurement. A traced run alternates untraced and traced units: the
    // untraced ones give the base of trace.overhead_ratio at the same point
    // of JIT warm-up as the traced ones.
    case class Unit_(wallNs: Long, ops: Seq[Op], traced: Boolean,
                     c: Option[EngineCounters], gcMs: Long)
    val units = scala.collection.mutable.ArrayBuffer.empty[Unit_]
    val start = System.nanoTime()
    System.err.println(f"perfbench: set-up ends ${(start - t0) / 1e9}%.1f s after session start")
    def elapsed = (System.nanoTime() - start) / 1e9
    Jvm.resetPeaks()
    val jit0 = Jvm.jitMs
    val codegen0 = Jvm.codegenCompiles
    // a traced run needs two traced and two untraced units at least
    val minUnits = if (traced) 4 else 2
    while (elapsed < seconds || units.size < minUnits) {
      engine = trace.filter(_ => units.size % 2 == 1)
      engine.foreach { e => e.install(); e.take() }
      spans.enabled = engine.isDefined
      spans.unit = units.size
      val gc0 = Jvm.gcMs
      val ops = w.unit()
      val c = engine.map(e => ops.flatMap(_.engine).foldLeft(e.take())(_ += _))
      engine.foreach(_.remove())
      units += Unit_(ops.map(_.latencyNs).sum, ops, engine.isDefined, c, Jvm.gcMs - gc0)
    }
    engine = None
    val jitWindowMs = Jvm.jitMs - jit0
    val codegenWindow = Jvm.codegenCompiles - codegen0
    val runFailures = w.runChecks()
    val steal1 = Host.stealJiffies()
    val cal1 = Host.calibrate()
    val tEnd = System.nanoTime()

    val allOps = w.setupOps ++ units.flatMap(_.ops)
    val failed = allOps.filterNot(_.ok)
    val timed = units.filter(u => !traced || !u.traced)
    def lat(o: Op) = if (o.ok) o.latencyNs / 1e6 else Double.PositiveInfinity
    // One typical pass: the sum over op kinds (gates, request types) of the
    // kind's median latency, so one noisy unit moves it less than a median
    // of whole-unit walls would.
    def passS(us: Iterable[Unit_]) = us.flatMap(_.ops).groupBy(_.kind).values
      .map(os => Workload.median(os.map(lat).toSeq)).sum / 1e3
    val timedOps = timed.flatMap(_.ops).toSeq

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", passS(timed), "s"),
      ("ops_per_s", timedOps.count(_.ok) / (timedOps.map(_.latencyNs).sum / 1e9), "1/s"))

    val extra = Seq.newBuilder[(String, Double, String)]
    extra += ((s"$workload.ops", timedOps.size.toDouble, "count"))
    extra += ((s"$workload.p50_ms", Workload.median(timedOps.map(lat)), "ms"))
    extra += ((s"$workload.p90_ms", Workload.quantile(timedOps.map(lat), 0.9), "ms"))
    timedOps.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      extra += ((s"$workload.$k.p50_ms", Workload.median(os.map(lat)), "ms"))
    }
    extra ++= w.extra()
    extra ++= setupParts.map { case (k, v) => (k, v, "s") }

    val layers = Seq.newBuilder[(String, Double, String)]
    val tr = units.filter(_.traced).toSeq
    if (traced) {
      val n = tr.size.toDouble
      def per(f: EngineCounters => Double) = tr.flatMap(_.c).map(f).sum / n
      def spanS(names: Set[String]) = spans.all.filter(s => names(s.name))
        .map(s => (s.endNs - s.startNs) / 1e9).sum / n
      val unionS = per(_.jobUnionMs / 1e3)
      val wallS = tr.map(_.wallNs / 1e9).sum / n
      val taskS = per(_.taskRunMs / 1e3)
      layers ++= Seq(
        ("module.construct_s", spanS(ConstructSpans), "s"),
        ("module.action_s", spanS(ActionSpans), "s"),
        ("catalyst.analysis_s", per(_.analysisMs / 1e3), "s"),
        ("catalyst.optimization_s", per(_.optimizationMs / 1e3), "s"),
        ("catalyst.planning_s", per(_.planningMs / 1e3), "s"),
        ("spark.jobs", per(_.jobs.toDouble), "count"),
        ("spark.stages", per(_.stages.toDouble), "count"),
        ("spark.tasks", per(_.tasks.toDouble), "count"),
        ("spark.job_union_s", unionS, "s"),
        ("spark.driver_gap_s", wallS - unionS, "s"),
        ("exec.task_run_s", taskS, "s"),
        ("exec.task_cpu_s", per(_.taskCpuNs / 1e9), "s"),
        ("exec.cores_busy", if (unionS > 0) taskS / unionS else 0.0, "cores"),
        ("exec.jvm_gc_s", per(_.taskGcMs / 1e3), "s"),
        ("shuffle.write_bytes", per(_.shuffleWriteBytes.toDouble), "bytes"),
        ("shuffle.read_bytes", per(_.shuffleReadBytes.toDouble), "bytes"),
        ("exec.spill_bytes", per(_.spillBytes.toDouble), "bytes"),
        ("io.input_bytes", per(_.inputBytes.toDouble), "bytes"),
        ("io.output_bytes", per(_.outputBytes.toDouble), "bytes"),
        ("jvm.gc_ms", tr.map(_.gcMs).sum / n, "ms"),
        ("trace.overhead_ratio", passS(tr) / passS(timed), "ratio"))
      spans.msByName.toSeq.sortBy(_._1).foreach { case (k, ms) =>
        extra += ((s"$k.p50_ms", Workload.median(ms), "ms"))
      }
      // per-op engine split (gates): task time against driver gap, medians
      tr.flatMap(_.ops).filter(_.engine.isDefined).groupBy(_.kind).toSeq.sortBy(_._1)
        .foreach { case (k, os) =>
          def med(f: (Op, EngineCounters) => Double) = Workload.median(os.map(o => f(o, o.engine.get)))
          extra ++= Seq(
            (s"$workload.$k.jobs", med((_, c) => c.jobs.toDouble), "count"),
            (s"$workload.$k.task_run_s", med((_, c) => c.taskRunMs / 1e3), "s"),
            (s"$workload.$k.job_union_s", med((_, c) => c.jobUnionMs / 1e3), "s"),
            (s"$workload.$k.driver_gap_s", med((o, c) => o.latencyNs / 1e9 - c.jobUnionMs / 1e3), "s"))
        }
      Files.writeString(Paths.get(s"$out/trace.json"), spans.json)
    }
    layers ++= Seq(
      ("jvm.heap_peak_mb", Jvm.heapPeakMb, "MB"),
      ("jvm.code_cache_mb", Jvm.codeCacheMb, "MB"),
      // Janino compiles and JIT work still going on in the window, per unit.
      // Spark's generated-code cache holds 100 classes; a unit whose classes
      // do not fit recompiles them every time, and is slower for it.
      ("codegen.compiles", codegenWindow.toDouble / units.size, "count"),
      ("jvm.jit_ms", jitWindowMs.toDouble / units.size, "ms"),
      ("host.steal_jiffies", (steal1 - steal0).toDouble, "jiffies"),
      ("host.cal_s", (cal0 + cal1) / 2, "s"))

    def metrics(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    Files.writeString(Paths.get(s"$out/result.json"), Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> allOps.size.toString,
      "failed" -> (failed.size + runFailures.size).toString,
      "failures" -> Json.arr((failed.map(o => s"${o.kind}: ${o.detail}") ++ runFailures)
        .map(Json.str)),
      "unit_walls_s" -> Json.arr(units.toSeq.map(u => Json.num(u.wallNs / 1e9))),
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layers.result()),
      "extra" -> metrics(extra.result()))))
    spark.stop()
    System.err.println(f"perfbench: window ${(tEnd - start) / 1e9}%.1f s, JVM wall " +
      f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s")
  }
}
