package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a pass. `run` does the timed work and returns the
  * output check, which the runner calls after the clock stops: None when
  * the output is right, else the reason it is wrong. `layer` is the module
  * (query workloads) or graft package (pta_pipeline) the call goes into. */
final case class Op(name: String, layer: String, run: (Tracer, Int) => Check)

trait Workload {
  /** The set-up's warm-up: first calls that load classes and fill caches. */
  def warmUp(): Unit
  /** The operations of pass `pass`, in the order the client issues them;
    * `shuffle` asks for the seed-shuffled order where the workload has one. */
  def ops(pass: Int, shuffle: Boolean): Seq[Op]
  /** Clears what an earlier run left in the work directory. */
  def reset(): Unit = ()
}

object Workload {
  /** Rows collected by [[collect]] since the last reset. */
  var resultRows = 0L

  /** Build, plan and collect one DataFrame, each layer call in its own
    * span. Planning is forced through `queryExecution.executedPlan`. */
  def collect(t: Tracer, op: Int, build: => DataFrame): Array[Row] = {
    val df = t.span("build", op)(build)
    t.span("plan", op)(df.queryExecution.executedPlan)
    val rows = t.span("exec", op)(df.collect())
    resultRows += rows.length
    rows
  }
}

/** query_floor and query_work: registered queries, every query from a
  * fresh DataFrame, every result checked against its expected digest. */
final class QueryWorkload(spark: SparkSession, dir: String, names: Seq[String],
    expected: Map[String, Set[String]], seed: Long) extends Workload {

  private val fns = graft.SparkEntry.queries

  /** One small query: session, scan and codegen paths come up once. */
  def warmUp(): Unit = fns("q1_pricing_summary")(spark, dir).collect()

  def ops(pass: Int, shuffle: Boolean): Seq[Op] =
    (if (shuffle) Queries.order(names, seed, pass) else names).map { n =>
    Op(n, Queries.moduleOf.getOrElse(n, "other"), (t, i) => {
      val rows = Workload.collect(t, i, fns(n)(spark, dir))
      () => {
        val d = Digest.rows(rows)
        expected.get(n) match {
          case Some(ok) if ok(d) => None
          case Some(ok) => Some(s"digest $d, expected ${ok.mkString(" or ")}")
          case None => Some(s"no expected digest recorded (got $d)")
        }
      }
    })
  }
}
