package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder. A span is (id, parent, op, layer, name, start,
  * end) with times in ms since the recorder was made; spans of one timed
  * operation share its op id. Nothing is written until [[write]], so the
  * recording itself costs one synchronized append per span. While not
  * active, [[span]] only runs its body. */
final class Trace(on: Boolean) {
  @volatile var active: Boolean = on
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer[String]()
  private var nextId = 1L
  // the main thread's open span; other threads pass their parent explicitly
  @volatile private var current = 0L
  @volatile var op = 0L

  def nowMs: Double = (System.nanoTime() - t0) / 1e6

  private def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  private def add(id: Long, parent: Long, layer: String, name: String,
      startMs: Double, endMs: Double): Unit = synchronized {
    spans += s"""{"id":$id,"parent":$parent,"op":$op,"layer":"$layer",""" +
      s""""name":"${Json.esc(name)}","start":$startMs,"end":$endMs}"""
  }

  /** Record a span timed elsewhere (another thread), under the main
    * thread's open span unless `parent` is given. */
  def record(layer: String, name: String, startMs: Double, endMs: Double,
      parent: Long = current): Unit =
    if (active) add(newId(), parent, layer, name, startMs, endMs)

  /** Time `body` as a span of `layer`; nested calls on the main thread
    * become its children. */
  def span[A](layer: String, name: String)(body: => A): A =
    if (!active) body
    else {
      val parent = current
      val id = newId()
      current = id
      val s = nowMs
      try body
      finally {
        current = parent
        add(id, parent, layer, name, s, nowMs)
      }
    }

  def write(path: String): Unit = synchronized {
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      spans.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Just enough JSON output for flat records. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
