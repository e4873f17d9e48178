package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One timed call: an operation, or a layer call inside one. */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    startNs: Long, endNs: Long, work: Work) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans and listener counts, taken at the same boundaries.
  *
  * Off (the default), [[span]] only runs its body: end-to-end numbers are
  * measured without a listener or any bus drain. On, every boundary drains
  * the listener bus and snapshots the counters, and each span is kept in
  * memory until [[dump]] writes them when the run ends. */
final class Tracer(spark: SparkSession) {
  private val counters = new Counters
  private var on = false
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = ArrayBuffer.empty[Span]

  def enabled: Boolean = on

  def enable(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(counters)
    on = true
  }

  private def snap(): Work = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    counters.snapshot
  }

  def span[T](name: String, op: Int)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val w0 = snap()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, op, parent, name, t0, t1, snap() - w0)
      }
    }

  def dump(path: java.nio.file.Path, origin: Long): Unit = {
    val body = spans.map { s =>
      f"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${(s.startNs - origin) / 1e6}%.3f,"end_ms":${(s.endNs - origin) / 1e6}%.3f,""" +
        s""""work":${s.work.json}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.writeString(path, body)
  }
}
