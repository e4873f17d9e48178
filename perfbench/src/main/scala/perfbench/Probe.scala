package perfbench

/** Selection and recording tool, run by hand, not by the benchmark.
  *
  *   Probe <data-dir> <out.tsv> [query ...]
  *
  * Runs each named query (default: every runnable query) twice from a
  * fresh DataFrame, the second time traced, and writes one TSV row per
  * query: module, wall ms, build/plan/exec ms, jobs, task run ms, the
  * task-work share of wall (task run ms / slots / wall) and the digests of
  * both runs. The query_work selection and the expected digests come from
  * these rows (see README.md).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(2).toSet
    val slots = Runtime.getRuntime.availableProcessors
    val spark = graft.core.GraftSession.local(slots)
    val tracer = new Tracer(spark)
    val qs = Queries.runnable.filter(q => names.isEmpty || names(q._1))
    val out = new StringBuilder(
      "query\tmodule\twall_ms\tbuild_ms\tplan_ms\texec_ms\tjobs\ttask_run_ms\ttask_share\tdigest1\tdigest2\n")
    qs.zipWithIndex.foreach { case ((name, q), i) =>
      val row = try {
        val d1 = Digest.rows(Workload.collect(tracer, i, q(spark, dir)))
        tracer.enable()
        val from = tracer.spans.size
        val t0 = System.nanoTime()
        val d2 = Digest.rows(Workload.collect(tracer, i, q(spark, dir)))
        val wallMs = (System.nanoTime() - t0) / 1e6
        val sp = tracer.spans.drop(from)
        def ms(l: String) = sp.filter(_.name == l).map(_.ms).sum
        val w = sp.map(_.work).foldLeft(Work())(_ + _)
        val share = w.taskRunMs.toDouble / slots / wallMs
        f"$name\t${Queries.moduleOf.getOrElse(name, "?")}\t$wallMs%.1f\t${ms("build")}%.1f\t" +
          f"${ms("plan")}%.1f\t${ms("exec")}%.1f\t${w.jobs}\t${w.taskRunMs}\t$share%.3f\t$d1\t$d2"
      } catch {
        case e: Throwable => s"$name\t?\tERROR ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
      }
      println(row)
      out ++= row + "\n"
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(1)), out.toString)
    spark.stop()
  }
}
