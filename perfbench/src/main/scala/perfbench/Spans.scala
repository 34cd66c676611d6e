package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds (fractional), so
  * driver-side spans and the listener's job/stage/task times share a clock.
  */
final case class Span(id: Int, parent: Int, name: String, runId: String,
                      startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** In-memory span buffer, written once when the benchmark ends. */
final class Spans(runId: String) {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def add(parent: Int, name: String, startMs: Double, endMs: Double): Int = synchronized {
    val id = buf.length + 1
    buf += Span(id, parent, name, runId, startMs, endMs)
    id
  }

  /** Time `f` as a span under `parent`; returns its result and span id. */
  def timed[T](parent: Int, name: String)(f: => T): (T, Span) = {
    val t0 = nowMs
    val r = f
    val id = add(parent, name, t0, nowMs)
    (r, synchronized(buf(id - 1)))
  }

  /** Reserve an id for a span whose end is not known yet. */
  def open(parent: Int, name: String): Int = add(parent, name, nowMs, Double.NaN)

  def close(id: Int): Span = synchronized {
    val s = buf(id - 1).copy(endMs = nowMs)
    buf(id - 1) = s
    s
  }

  def all: Vector[Span] = synchronized(buf.toVector)

  def write(to: Path): Unit = {
    Files.createDirectories(to.getParent)
    val lines = all.map { s =>
      Json.obj(Seq("id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "name" -> Json.str(s.name), "run_id" -> Json.str(s.runId),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)))
    }
    Files.writeString(to, lines.mkString("", "\n", "\n"))
  }
}

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"not a JSON number: $d")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }

  def num(l: Long): String = l.toString

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
