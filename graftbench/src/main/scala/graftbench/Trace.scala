package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

/** One timed call into a layer. `parent` is 0 for a request's root
  * span; every span of one request carries the root's id as `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder used only by the benchmark's own code,
  * around its calls into the library. Disabled (the untraced runs that
  * produce end-to-end numbers), `span` is a flag test and the body. */
object Trace {
  @volatile var enabled = false

  private val nextId = new AtomicLong(1L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  // (current span id, its request id) of the calling thread
  private val current = ThreadLocal.withInitial[(Long, Long)](() => (0L, 0L))

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val (parent, req0) = current.get
      val req = if (parent == 0L) id else req0
      current.set((id, req))
      val start = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, req, name, start, System.nanoTime()))
        current.set((parent, req0))
      }
    }

  /** Records an already-finished interval as a child of the calling
    * thread's current span — used for the build stages `fit` reports
    * through its log callback. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      val id = nextId.getAndIncrement()
      val (parent, req) = current.get
      spans.add(Span(id, parent, if (parent == 0L) id else req, name,
        startNs, endNs))
    }

  def all: IndexedSeq[Span] = {
    val a = new Array[Span](0)
    spans.toArray(a).toIndexedSeq.sortBy(_.id)
  }

  /** Self time of each span name: its duration minus the part of it
    * covered by its children. */
  def selfNs(all: IndexedSeq[Span]): Map[String, Long] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.iterator.map { s =>
        val covered = children.getOrElse(s.id, Nil).iterator.map(c =>
          math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))).sum
        math.max(0L, s.durNs - covered)
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}
