package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}

/** One timed interval. `parent` is 0 for a root span; every span of one
  * workload operation shares `trace`.
  */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder of the traced run. Spans opened on the
  * calling thread nest through a thread-local stack and publish the
  * innermost span as Spark local properties, so every job an
  * instrumented call starts carries them; executor-side spans (the
  * counting decorators) read their parent from the running task's local
  * properties. Nothing is recorded unless [[enabled]] is set, and spans
  * are only written out at exit.
  */
object Trace {
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"
  val CallProp = "perfbench.call"

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }

  def enable(context: SparkContext): Unit = { sc = context; enabled = true }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startNs, s.id))

  private def setProps(top: Option[(Long, Long)], call: Option[String]): Unit =
    if (sc != null) {
      sc.setLocalProperty(SpanProp, top.map(_._1.toString).orNull)
      sc.setLocalProperty(TraceProp, top.map(_._2.toString).orNull)
      call.foreach(c => sc.setLocalProperty(CallProp, c))
    }

  /** Span on the calling thread. A root span (empty stack) opens a new
    * trace. `call` names the Spark call that jobs started inside are counted
    * under (see [[SparkCounters]]).
    */
  def span[T](name: String, call: String = null)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val id = ids.incrementAndGet()
      val trace = outer.headOption.map(_._2).getOrElse(id)
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      val prevCall = Option(sc).flatMap(c => Option(c.getLocalProperty(CallProp)))
      stack.set((id, trace) :: outer)
      setProps(Some((id, trace)), Option(call))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, trace, name, t0, System.nanoTime()))
        stack.set(outer)
        setProps(outer.headOption, None)
        if (call != null && sc != null) sc.setLocalProperty(CallProp, prevCall.orNull)
      }
    }

  /** Executor-side span: parent and trace come from the task's local
    * properties (0 when called outside a task).
    */
  def leaf[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val tc = Option(TaskContext.get())
      def prop(k: String): Long =
        tc.flatMap(t => Option(t.getLocalProperty(k))).map(_.toLong).getOrElse(0L)
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try body
      finally spans.add(Span(id, prop(SpanProp), prop(TraceProp), name, t0, System.nanoTime()))
    }

  /** Self time of every span: its duration minus the union of its
    * children's intervals clipped to it (children on executor threads
    * may overlap each other).
    */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.filter(_.parent != 0).groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def toJson(all: Seq[Span]): String =
    all.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"trace":${s.trace},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString("[\n", ",\n", "\n]\n")
}
