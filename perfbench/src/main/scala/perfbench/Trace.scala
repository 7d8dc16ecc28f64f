package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext

/** One timed interval. Times are epoch microseconds; `parent` is the id of
  * the enclosing span ("" at the root); `req` is the request the span
  * served (a SQL execution id, a streaming trigger, or a query name).
  */
final case class Span(id: String, parent: String, layer: String, name: String,
                      start: Long, end: Long, req: String)

/** In-memory span recorder. When disabled, [[span]] only runs its body, so
  * an untraced run pays one branch per call.
  *
  * Call spans nest per thread; the innermost open span id is also set as
  * the Spark local property [[Trace.SpanProp]] so that jobs submitted from
  * inside a call can name it as their parent.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[String]] {
    override def initialValue(): List[String] = Nil
  }
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()

  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  def span[T](layer: String, name: String, req: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = s"call/${ids.incrementAndGet()}"
      val outer = stack.get
      val parent = outer.headOption.getOrElse("")
      stack.set(id :: outer)
      sc.setLocalProperty(Trace.SpanProp, id)
      val t0 = nowUs()
      try body
      finally {
        spans.add(Span(id, parent, layer, name, t0, nowUs(), req))
        stack.set(outer)
        sc.setLocalProperty(Trace.SpanProp, outer.headOption.orNull)
      }
    }

  def add(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq
}

object Trace {
  val SpanProp = "perfbench.span"
  val ScopeProp = "perfbench.scope"
}
