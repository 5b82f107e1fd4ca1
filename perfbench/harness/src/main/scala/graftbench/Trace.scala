package graftbench

import java.io.{File, PrintWriter}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper

/** One call into a layer. Spans of one CLI run, request or query share a
  * `trace` id; `parent` 0 marks a root. Times are `System.nanoTime`. */
final case class Span(trace: String, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, written out once at the end of a run. Spans are
  * recorded by the benchmark around its calls into the program's public
  * functions, and by listeners for the planning phases Spark reports. */
final class Tracer {
  private val ids = new AtomicInteger(0)
  private val buf = ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  @volatile var trace: String = "0"

  def span[T](name: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open.set(open.get.tail)
      add(Span(trace, id, parent, name, t0, t1))
    }
  }

  /** A span measured elsewhere (a listener), placed under `parent`. */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Unit =
    add(Span(trace, ids.incrementAndGet(), parent, name, startNs,
      math.max(startNs, endNs)))

  def current: Int = open.get.headOption.getOrElse(0)

  private def add(s: Span): Unit = synchronized { buf += s }

  def spans: Seq[Span] = synchronized { buf.toList }

  /** Self time of every span: its duration minus the part of it that its
    * children cover (children clipped to the parent, overlaps merged). */
  def selfNs: Map[Int, Long] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var (lo, hi) = (Long.MinValue, Long.MinValue)
      ivs.foreach { case (a, b) =>
        if (a > hi) { if (hi > lo) covered += hi - lo; lo = a; hi = b }
        else hi = math.max(hi, b)
      }
      if (hi > lo) covered += hi - lo
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Summed self time per span name, in seconds. */
  def selfSecondsByName: Map[String, Double] = {
    val self = selfNs
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => self(s.id)).sum / 1e9
    }
  }

  def write(path: String): Unit = {
    val out = new PrintWriter(new File(path), "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      out.println(Json.write(Map("trace" -> s.trace, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_ns" -> s.startNs,
        "end_ns" -> s.endNs)))
    } finally out.close()
  }
}

object Json {
  val mapper = new ObjectMapper()

  private def toJava(v: Any): AnyRef = v match {
    case m: Map[_, _] =>
      val jm = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, x) =>
        jm.put(k.toString, toJava(x)) }
      jm
    case s: Seq[_] =>
      val jl = new java.util.ArrayList[AnyRef]()
      s.foreach(x => jl.add(toJava(x)))
      jl
    case null => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def write(v: Any): String = mapper.writeValueAsString(toJava(v))

  def writeFile(path: String, v: Any): Unit = {
    val out = new PrintWriter(new File(path), "UTF-8")
    try out.println(write(v)) finally out.close()
  }
}
