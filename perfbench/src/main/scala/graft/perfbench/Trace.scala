package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** In-memory span recorder for the traced run. A span is one call into a
  * layer (name, layer, start, end, parent span, shared request id); spans
  * nest per thread. With tracing off, [[span]] only runs its body, so the
  * untraced run measures the program, not the recorder.
  *
  * The enclosing span id and request id are also set as Spark local
  * properties on the calling thread, so the jobs a span submits can be
  * attributed to it by [[SparkTrace]].
  */
object Trace {
  @volatile var on: Boolean = false

  final case class Span(id: Long, parent: Long, req: String, layer: String, name: String,
      startNs: Long, endNs: Long)

  val SpanProp = "perfbench.span"
  val ReqProp = "perfbench.req"

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  @volatile private var session: SparkSession = _

  def start(spark: SparkSession): Unit = { session = spark; on = true }

  def nextId(): Long = ids.incrementAndGet()

  private def setProps(top: Option[(Long, String)]): Unit =
    if (session != null) {
      val sc = session.sparkContext
      sc.setLocalProperty(SpanProp, top.map(_._1.toString).orNull)
      sc.setLocalProperty(ReqProp, top.map(_._2).filter(_.nonEmpty).orNull)
    }

  /** Run `body` as a span of `layer`. `req` defaults to the enclosing
    * span's request id. */
  def span[A](layer: String, name: String, req: String = null)(body: => A): A =
    if (!on) body
    else {
      val outer = stack.get
      val (parent, outerReq) = outer.headOption.getOrElse((0L, ""))
      val r = if (req != null) req else outerReq
      val id = nextId()
      stack.set((id, r) :: outer)
      setProps(Some((id, r)))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans.add(Span(id, parent, r, layer, name, t0, t1))
        stack.set(outer)
        setProps(outer.headOption)
      }
    }

  /** Record a span measured elsewhere (a Spark job, a streaming batch). */
  def record(s: Span): Unit = if (on) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children (children clipped to the parent and
    * merged, so overlapping children are not subtracted twice). */
  def selfMsByLayer(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, group) =>
      layer -> group.map { s =>
        val iv = kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var curA = Long.MinValue
        var curB = Long.MinValue
        for ((a, b) <- iv) {
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def toJsonLines(ss: Seq[Span], t0Ns: Long): Iterator[String] = ss.sortBy(_.startNs).iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"req":${Json.str(s.req)},"layer":${Json.str(s.layer)},""" +
      s""""name":${Json.str(s.name)},"start_ms":${Json.num((s.startNs - t0Ns) / 1e6)},""" +
      s""""dur_ms":${Json.num((s.endNs - s.startNs) / 1e6)}}"""
  }
}

/** Tiny JSON writer: the harness prints one object per run and must not
  * depend on anything outside the Spark distribution. */
object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
