package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One traced interval. `doc` is shared by every span of one document;
  * `parent` is 0 for a root span. Times are System.nanoTime values.
  */
final case class Span(id: Long, parent: Long, name: String, doc: Long, start: Long, end: Long) {
  def duration: Long = end - start
}

/** In-memory span recorder. Spark tasks run inside this JVM (local master),
  * so every task thread appends to its own buffer and the benchmark reads
  * all buffers once the traced jobs have finished; nothing is written until
  * the benchmark ends.
  */
object Trace {
  private val ids = new AtomicLong(0)
  private val buffers = new ConcurrentLinkedQueue[mutable.ArrayBuffer[Span]]()
  private val local = new ThreadLocal[mutable.ArrayBuffer[Span]] {
    override def initialValue(): mutable.ArrayBuffer[Span] = {
      val b = mutable.ArrayBuffer.empty[Span]
      buffers.add(b)
      b
    }
  }

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = local.get() += s

  /** Runs `body` inside a span with a fresh id, handed to `body` so it can
    * parent child spans.
    */
  def span[T](name: String, parent: Long, doc: Long)(body: Long => T): T = {
    val id = newId()
    val t0 = System.nanoTime()
    try body(id)
    finally record(Span(id, parent, name, doc, t0, System.nanoTime()))
  }

  /** Every span recorded so far; call only while no traced task is running. */
  def all(): Seq[Span] = buffers.asScala.toSeq.flatMap(_.toSeq)

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. Overlapping children count once, and a child
    * reaching outside its parent counts only inside it.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.iterator.map { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      for ((a, b) <- kids) {
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else if (b > curB) curB = b
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.duration - covered)
    }.toMap
  }

  /** Writes spans as tab-separated lines: id, parent, name, doc, start, end. */
  def write(spans: Seq[Span], path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("id\tparent\tname\tdoc\tstart_ns\tend_ns\n")
      for (s <- spans) w.write(s"${s.id}\t${s.parent}\t${s.name}\t${s.doc}\t${s.start}\t${s.end}\n")
    } finally w.close()
  }
}
