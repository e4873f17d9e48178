package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side; `run.py` prepares the inputs and calls it.
  *
  *   Main --workload W --seed N --settling-passes S --warm-passes K
  *        --trace 0|1 --data DIR --work DIR --out FILE
  *        [--queries FILE --expected FILE] [--tamper-noise]
  *
  * One closed-loop client on `local[<cores>]`: it issues one operation,
  * waits for it, checks its output, then issues the next. Set-up (session
  * start plus a small warm-up) runs three times and reports the median.
  * The timed phase runs one first pass of the workload, S settling passes
  * and K warm passes; with `--trace 1`, K traced passes follow, so the
  * output carries the tracing overhead next to the per-layer numbers.
  * The result goes to `--out` as JSON; per-operation latencies and
  * (traced) spans go to `--work`.
  */
object Main {

  final case class OpRec(pass: Int, id: Int, name: String, layer: String,
      latencyNs: Long, failure: Option[String], traced: Boolean)
  final case class PassRec(index: Int, wallNs: Long, traced: Boolean, rows: Long)

  val Setups = 3

  def main(argv: Array[String]): Unit = {
    // `--key value` pairs; a `--flag` followed by another `--key` has no value
    val a = argv.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap ++ argv.filter(_ == "--tamper-noise").map(_ => "tamper-noise" -> "1")
    val workload = a("workload")
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = a("work")
    val slots = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(work))

    val excluded = Queries.excluded
    if (workload != "pta_pipeline") excluded.foreach { case (q, why) =>
      println(s"excluded $q: $why")
    }

    def make(spark: SparkSession): Workload = workload match {
      case "pta_pipeline" =>
        new Pta(spark, a("data"), work, new PtaTruth(s"${a("data")}/truth.json"),
          a.contains("tamper-noise"))
      case _ =>
        val names = readList(a("queries"))
        val skip = excluded.map(_._1).toSet
        require(names.forall(n => !skip(n) && graft.SparkEntry.queries.contains(n)),
          s"query list names an excluded or unknown query: ${names.filter(n => skip(n) ||
            !graft.SparkEntry.queries.contains(n))}")
        new QueryWorkload(spark, a("data"), names, readExpected(a("expected")), seed)
    }

    // set-up: session start plus warm-up, three times; the first counts
    // from JVM start
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    var wl: Workload = null
    val setupS = (0 until Setups).map { i =>
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStartMs else System.currentTimeMillis()
      spark = graft.core.GraftSession.local(slots)
      wl = make(spark)
      wl.reset()
      wl.warmUp()
      (System.currentTimeMillis() - t0) / 1e3
    }
    println(f"setup runs (s): ${setupS.map(s => f"$s%.3f").mkString(" ")} (the first from JVM start)")

    val tracer = new Tracer(spark)
    val ops = ArrayBuffer.empty[OpRec]
    val passes = ArrayBuffer.empty[PassRec]

    def runPass(shuffle: Boolean): Unit = {
      val p = passes.size
      val rows0 = Workload.resultRows
      val t0 = System.nanoTime()
      wl.ops(p, shuffle).foreach { op =>
        val id = ops.size
        val s = System.nanoTime()
        val res = try Right(tracer.span(op.name, id)(op.run(tracer, id)))
          catch { case e: Throwable => Left(e) }
        val lat = System.nanoTime() - s
        val failure = res match {
          case Left(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
          case Right(check) =>
            try check() catch { case e: Throwable => Some(s"check threw $e") }
        }
        failure.foreach(f => println(s"FAILED ${op.name} (pass $p): ${f.take(400)}"))
        ops += OpRec(p, id, op.name, op.layer, lat, failure, tracer.enabled)
      }
      passes += PassRec(p, System.nanoTime() - t0, tracer.enabled, Workload.resultRows - rows0)
    }

    def phase(n: Int, shuffle: Boolean): Seq[PassRec] = {
      val first = passes.size
      (1 to n).foreach(_ => runPass(shuffle))
      passes.drop(first).toSeq
    }

    // The timed phase. Pass 0 runs every operation for the first time in
    // this process (codegen, JIT and graft's per-session memoized
    // intermediates are cold); its wall is first_pass_s. Then S settling
    // passes, whose numbers are only logged, because the JIT keeps
    // compiling over the first few passes; then the K warm passes the
    // end-to-end numbers come from, and with --trace 1 another K traced
    // passes. run.py fixes S per workload and derives K from --seconds
    // and the workload's nominal pass time, so every run of a workload
    // runs the same passes. The first and settling passes keep the list
    // order, so the profile the JIT compiles from does not depend on the
    // seed; the measured passes run in the seed-shuffled order.
    val k = a("warm-passes").toInt
    val settle = a("settling-passes").toInt
    val cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    runPass(shuffle = false)
    val settling = phase(settle, shuffle = false)
    val cpu0 = cpu.getProcessCpuTime
    val warm = phase(k, shuffle = true)
    val cpuNs = cpu.getProcessCpuTime - cpu0
    val traced = if (trace) { tracer.enable(); phase(k, shuffle = true) } else Nil
    spark.stop()
    println(s"pass walls (s): ${passes.map(p => f"${p.wallNs / 1e9}%.3f").mkString(" ")} " +
      s"(first, ${settling.size} settling, ${warm.size} warm, ${traced.size} traced)")

    val metrics = ArrayBuffer.empty[(String, Double, String)]
    def median(xs: Seq[Double]) = quantile(xs, 0.5)
    val warmIdx = warm.map(_.index).toSet
    val lat = ops.filter(o => warmIdx(o.pass)).map(_.latencyNs / 1e9).toSeq
    if (!trace) {
      metrics += (("setup_s", median(setupS), "s"))
      metrics += (("wall_s", median(warm.map(_.wallNs / 1e9)), "s"))
      metrics += (("op_p50_s", quantile(lat, 0.5), "s"))
      metrics += (("op_p75_s", quantile(lat, 0.75), "s"))
      metrics += (("cpu_s", cpuNs / 1e9 / warm.size, "s"))
    } else {
      metrics ++= Layers.metrics(wl, tracer.spans.toSeq, ops.filter(_.traced).toSeq,
        traced, warm, slots)
      metrics += (("first_pass_s", passes.head.wallNs / 1e9, "s"))
      metrics += (("peak_rss_mb", vmHwmKb / 1024.0, "MB"))
      val dump = Paths.get(work, s"trace-$workload-seed$seed.json")
      tracer.dump(dump, tracer.spans.headOption.map(_.startNs).getOrElse(0L))
      println(s"spans: ${tracer.spans.size} written to $dump")
    }

    Files.writeString(Paths.get(work, s"ops-$workload-seed$seed.tsv"),
      ops.map(o => s"${o.pass}\t${o.name}\t${o.layer}\t${o.latencyNs / 1e9}\t${o.traced}\t" +
        o.failure.getOrElse("ok")).mkString("pass\top\tlayer\tlatency_s\ttraced\tcheck\n", "\n", "\n"))
    println("slowest operations (median s, count):")
    ops.groupBy(_.name).toSeq
      .map { case (name, rs) => (name, median(rs.map(_.latencyNs / 1e9).toSeq), rs.size) }
      .sortBy(-_._2).take(15)
      .foreach { case (name, m, c) => println(f"  $name%-34s $m%.4f  $c") }
    val failed = ops.count(_.failure.isDefined)
    val attempted = ops.size
    println(f"operations: $attempted in ${passes.size} passes; failed: $failed; " +
      f"latency samples: ${lat.size}")
    metrics.foreach { case (n, v, u) => println(f"metric $n%-34s $v%.6f $u") }
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(a("out")),
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}""")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def vmHwmKb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)

  private def readList(path: String): Seq[String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  /** Expected digests: `query<TAB>digest[|digest...]`, after a header line
    * `# float_form<TAB><form>` that must match [[Digest.FloatForm]]. */
  private def readExpected(path: String): Map[String, Set[String]] = {
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    val form = lines.collectFirst { case l if l.startsWith("# float_form\t") => l.split("\t")(1) }
    require(form.contains(Digest.FloatForm),
      s"$path records digests in float form $form, the harness uses ${Digest.FloatForm}")
    lines.filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(q, d) => q -> d.split("\\|").toSet }.toMap
  }
}
