package perfbench

import scala.collection.mutable

/** One call into a layer: name, kind (the layer), interval and the span
  * that caused it. `counts` receives the Spark listener aggregates of the
  * jobs started while this span was the innermost open one. */
final class Span(val id: Int, val parent: Int, val name: String, val kind: String,
    val startNs: Long) {
  var endNs: Long = -1L
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  /** Wall-clock (epoch ms) intervals of this span's jobs and tasks, for the
    * driver-only and idle shares. */
  val jobIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  /** Epoch ms at start and end, to line the span up with listener times. */
  var startMs: Long = 0L
  var endMs: Long = 0L

  def durationNs: Long = endNs - startNs
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
}

/** In-memory span recorder for a single-threaded harness. Disabled, it
  * only runs the body. Enabled, it also tags Spark jobs with the open
  * span's id as their job group, so listener events can be attributed. */
final class Tracer(var enabled: Boolean, onEnter: Span => Unit = _ => (),
    onExit: Option[Span] => Unit = _ => ()) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  // read from the listener thread while the harness appends
  private val index = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stack = mutable.Stack[Span]()

  def span[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, kind,
        System.nanoTime())
      s.startMs = System.currentTimeMillis()
      spans += s
      index.put(s.id, s)
      stack.push(s)
      onEnter(s)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack.pop()
        onExit(stack.headOption)
      }
    }

  def byId(id: Int): Option[Span] = Option(index.get(id))

  /** Runs `body` with recording off. */
  def paused[T](body: => T): T = {
    val was = enabled
    enabled = false
    try body finally enabled = was
  }
}

object Trace {

  /** Self time of each span: its duration minus the part of its interval
    * that its children cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      s.id -> Stats.uncovered(s.startNs, s.endNs, kids)
    }.toMap
  }

  /** The spans as one JSON array. */
  def toJson(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    spans.map { s =>
      val counts = s.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""kind":${Json.str(s.kind)},"start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""self_ns":${self(s.id)},"counts":{$counts}}"""
    }.mkString("[\n", ",\n", "\n]")
  }
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
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
    else v.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
