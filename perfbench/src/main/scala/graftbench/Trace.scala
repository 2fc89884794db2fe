package graftbench

import scala.collection.mutable

/** In-memory spans recorded by the harness around its calls into the engine's
  * modules. Single-threaded: spans nest strictly (the harness drives one
  * operation at a time). Spans of one operation share `op`. */
final class Tracer(sc: Option[org.apache.spark.SparkContext] = None) {
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, var endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var op = 0
  private val t0 = System.nanoTime()

  /** Start a new operation: spans recorded from here on belong to it. */
  def nextOp(): Int = { op += 1; op }

  /** Runs `f` inside a span; Spark jobs it starts carry the description
    * `t:<name>` so task counters can be attributed to the span's layer. */
  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.length, stack.headOption.getOrElse(-1), op, name, System.nanoTime(), 0L)
    spans += s
    stack = s.id :: stack
    val prevDesc = sc.map(_.getLocalProperty("spark.job.description"))
    sc.foreach(_.setJobDescription("t:" + name))
    try f
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.foreach(_.setJobDescription(prevDesc.orNull))
    }
  }

  /** Self time per span name for one operation: each span's duration minus
    * the part covered by its children. */
  def selfSeconds(forOp: Int): Map[String, Double] = {
    val mine = spans.filter(_.op == forOp)
    val childNs = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
    mine.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    mine.groupMapReduce(_.name)(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9)(_ + _)
  }

  /** Writes every span as one JSON line: name, op, start and end (seconds
    * since the tracer was created) and the parent span id. */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        f""""start_s":${(s.startNs - t0) / 1e9}%.6f,"end_s":${(s.endNs - t0) / 1e9}%.6f}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
