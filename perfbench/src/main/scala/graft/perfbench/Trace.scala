package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary. `requestId` is the query name
  * (batch) or the stream `batchId`; `parent` is the id of the enclosing
  * span, or -1 for a root. Times are epoch microseconds so spans from
  * listener events (epoch ms) and from the harness (nanoTime, rebased)
  * share one clock. */
final case class Span(
    id: Int, parent: Int, requestId: String, layer: String,
    startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** In-memory span buffer, written once at the end of a traced run. When
  * disabled every call is a no-op returning -1, so untraced runs pay
  * nothing but the branch. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  // nanoTime is monotonic but has no epoch; rebase it once.
  private val epochUsAtStart = System.currentTimeMillis() * 1000L
  private val nanoAtStart = System.nanoTime()

  def nowUs: Long = epochUsAtStart + (System.nanoTime() - nanoAtStart) / 1000L

  def add(parent: Int, requestId: String, layer: String, startUs: Long, endUs: Long): Int =
    if (!enabled) -1
    else synchronized {
      val id = spans.length
      spans += Span(id, parent, requestId, layer, startUs, endUs)
      id
    }

  /** Time `body` as a span; returns the body's result and the span id. */
  def span[T](parent: Int, requestId: String, layer: String)(body: Int => T): T = {
    if (!enabled) return body(-1)
    val id = synchronized {
      val i = spans.length
      spans += Span(i, parent, requestId, layer, nowUs, -1L)
      i
    }
    try body(id)
    finally synchronized { spans(id) = spans(id).copy(endUs = nowUs) }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: each span's duration minus its direct
    * children's, summed by layer, in milliseconds. */
  def selfMsByLayer: Map[String, Double] = Tracer.selfMs(all)

  def write(path: String, metrics: Seq[(String, Double, String)]): Unit = {
    val sb = new StringBuilder
    sb.append("{\"run_id\":").append(Json.str(runId))
    sb.append(",\"self_ms\":").append(Json.obj(selfMsByLayer.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.num(v) }))
    sb.append(",\"metrics\":").append(Json.obj(metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }))
    sb.append(",\"spans\":[\n")
    sb.append(all.map { s =>
      Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "run" -> Json.str(runId), "request" -> Json.str(s.requestId),
        "layer" -> Json.str(s.layer), "start_us" -> s.startUs.toString,
        "end_us" -> s.endUs.toString))
    }.mkString(",\n"))
    sb.append("\n]}\n")
    Files.write(Paths.get(path), sb.toString.getBytes(UTF_8))
  }
}

object Tracer {
  def selfMs(spans: Seq[Span]): Map[String, Double] = {
    val childUs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(_.durUs)(_ + _)
    spans.groupMapReduce(_.layer)(s => (s.durUs - childUs.getOrElse(s.id, 0L)) / 1000.0)(_ + _)
  }
}

/** Just enough JSON writing for the result line and the trace file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full precision; JSON has no NaN or infinity, so those become null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
