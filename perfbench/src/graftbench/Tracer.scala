package graftbench

import scala.collection.mutable

/** In-memory spans for a traced run; every method is a no-op when tracing
  * is off. A span has a name, start and end (ms since JVM start), a parent
  * and the id of the operation it belongs to: an operation's own span, its
  * build/plan/exec phases and its Spark jobs share that id. Written out
  * once, at exit. */
final class Tracer(val enabled: Boolean, jvmStartMs: Long) {
  private final case class Span(id: Int, name: String, parent: Int, op: Int,
                                start: Double, var end: Double, attrs: Map[String, Any])

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nanoBase = System.nanoTime()
  private val msBase = (System.currentTimeMillis() - jvmStartMs).toDouble

  private def ms(nano: Long): Double = msBase + (nano - nanoBase) / 1e6
  private def opOf(parent: Int): Int = if (parent >= 0) spans(parent).op else -1

  /** Opens a span and returns its id (-1 when tracing is off). With
    * `newOp`, the span starts a new operation id. */
  def open(name: String, attrs: Map[String, Any] = Map.empty, parent: Int = -1,
           newOp: Boolean = false): Int =
    if (!enabled) -1
    else {
      val id = spans.size
      spans += Span(id, name, parent, if (newOp) id else opOf(parent),
        ms(System.nanoTime()), Double.NaN, attrs)
      id
    }

  def close(id: Int): Unit = if (id >= 0) spans(id).end = ms(System.nanoTime())

  /** Records an already finished span timed with `System.nanoTime`. */
  def closed(name: String, t0: Long, t1: Long, parent: Int = -1,
             attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) spans += Span(spans.size, name, parent, opOf(parent), ms(t0), ms(t1), attrs)

  /** One span per Spark job, from the listener's epoch-millisecond times. */
  def jobs(js: Seq[JobRec], parent: Int): Unit = if (enabled) js.foreach { j =>
    spans += Span(spans.size, "job", parent, opOf(parent),
      (j.startMs - jvmStartMs).toDouble, (j.endMs - jvmStartMs).toDouble,
      Map("job_id" -> j.id, "phase" -> j.phase.split('|').last, "stages" -> j.stages,
        "tasks" -> j.tasks, "cpu_s" -> j.cpuNs / 1e9, "task_run_s" -> j.runMs / 1e3,
        "task_gc_s" -> j.gcMs / 1e3, "shuffle_write_bytes" -> j.shuffleWrite,
        "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
        "input_bytes" -> j.input, "output_bytes" -> j.output))
  }

  def json: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.start, "end_ms" -> s.end, "attrs" -> s.attrs))
  }.mkString("[\n", ",\n", "\n]\n")
}
