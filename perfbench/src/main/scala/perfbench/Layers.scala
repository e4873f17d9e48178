package perfbench

/** Per-layer metrics of a traced run, each a per-pass figure (totals over
  * the traced passes divided by their number).
  *
  * Layer calls are the `build`, `plan` and `exec` spans inside each
  * operation span; the listener counts at operation boundaries give jobs,
  * tasks and bytes. Module and package roll-ups sum whole operations by the
  * operation's layer; a roll-up for a layer the workload never calls reads
  * 0.
  */
object Layers {

  /** Modules with a roll-up: every `SparkEntry` module that declares a
    * runnable query (TimOracle's and FixtureOracles' queries are all
    * excluded, see [[Queries.excluded]]). */
  lazy val rolledUp: Seq[String] = {
    val declaring = Queries.runnable.map(q => Queries.moduleOf(q._1)).toSet
    Queries.modules.map(_._1).filter(declaring)
  }

  def metrics(wl: Workload, spans: Seq[Span], ops: Seq[Main.OpRec],
      traced: Seq[Main.PassRec], untraced: Seq[Main.PassRec], slots: Int)
      : Seq[(String, Double, String)] = {
    val n = traced.size.toDouble
    val opSpans = spans.filter(_.parent < 0)
    val byId = ops.map(o => o.id -> o).toMap
    def layerCalls(name: String) = spans.filter(s => s.parent >= 0 && s.name == name)
    def ms(ss: Seq[Span]) = ss.map(_.ms).sum / n
    def sum(ss: Seq[Span]) = ss.map(_.work).foldLeft(Work())(_ + _)
    def of(layer: String) = opSpans.filter(s => byId.get(s.op).exists(_.layer == layer))
    def named(op: String, layer: String) = spans.filter(s => s.parent >= 0 && s.name == layer &&
      byId.get(s.op).exists(_.name == op))

    val all = sum(opSpans)
    val wallMs = traced.map(_.wallNs / 1e6).sum / n
    val runMs = all.taskRunMs / n
    val out = Seq.newBuilder[(String, Double, String)]
    def put(name: String, v: Double, unit: String): Unit = out += ((name, v, unit))

    put("build.ms", ms(layerCalls("build")), "ms")
    put("build.jobs", sum(layerCalls("build")).jobs / n, "count")
    put("plan.ms", ms(layerCalls("plan")), "ms")
    put("exec.ms", ms(layerCalls("exec")), "ms")
    put("jobs", all.jobs / n, "count")
    put("stages", all.stages / n, "count")
    put("tasks", all.tasks / n, "count")
    put("sched.ms", wallMs - runMs / slots, "ms")
    put("sched.share", (wallMs - runMs / slots) / wallMs, "ratio")
    put("tasks.run_ms", runMs, "ms")
    put("tasks.cpu_ms", all.taskCpuNs / 1e6 / n, "ms")
    put("tasks.gc_ms", all.taskGcMs / n, "ms")
    put("tasks.failed", all.tasksFailed / n, "count")
    put("slot_util", runMs / (wallMs * slots), "ratio")
    put("shuffle.read_bytes", all.shuffleReadBytes / n, "bytes")
    put("shuffle.write_bytes", all.shuffleWriteBytes / n, "bytes")
    put("spill.bytes", all.spillBytes / n, "bytes")
    put("scan.input_bytes", all.inputBytes / n, "bytes")
    put("result.rows", traced.map(_.rows).sum / n, "count")
    put("trace.overhead", Main.quantile(traced.map(_.wallNs.toDouble), 0.5) /
      Main.quantile(untraced.map(_.wallNs.toDouble), 0.5), "ratio")

    rolledUp.foreach { m =>
      val ids = of(m).map(_.op).toSet
      val inM = spans.filter(s => s.parent >= 0 && ids(s.op))
      val w = sum(of(m))
      put(s"mod.$m.build_ms", ms(inM.filter(_.name == "build")), "ms")
      put(s"mod.$m.exec_ms", ms(inM.filter(_.name == "exec")), "ms")
      put(s"mod.$m.jobs", w.jobs / n, "count")
      put(s"mod.$m.tasks.run_ms", w.taskRunMs / n, "ms")
      put(s"mod.$m.shuffle.write_bytes", w.shuffleWriteBytes / n, "bytes")
    }

    val (hits, misses, bytes, files, evals) = wl match {
      case p: Pta => (p.cacheHits, p.cacheMisses, p.sinkBytes, p.sinkFiles,
        ops.count(_.name == "fit_noise") * p.likelihoodEvals)
      case _ => (0L, 0L, 0L, 0L, 0L)
    }
    put("sources.ms", ms(of("sources")), "ms")
    put("sources.input_bytes", sum(of("sources")).inputBytes / n, "bytes")
    put("toacache.hits", hits / n, "count")
    put("toacache.misses", misses / n, "count")
    put("toacache.write_ms", ms(named("ingest_miss", "build")), "ms")
    put("analytics.ms", ms(of("analytics")), "ms")
    put("os.ms", ms(of("os")), "ms")
    put("sinks.ms", ms(of("sinks")), "ms")
    put("sinks.bytes_written", bytes / n, "bytes")
    put("sinks.files", files / n, "count")
    put("signals.ms", ms(of("signals")), "ms")
    put("signals.task_cpu_ms", sum(of("signals")).taskCpuNs / 1e6 / n, "ms")
    put("signals.likelihood_evals", evals / n, "count")
    out.result()
  }
}
