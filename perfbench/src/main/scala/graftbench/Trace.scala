package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.graftbench.BusDrain

import scala.collection.mutable

/** A timed interval: a pass, one call into a layer, or one Spark job
  * (a child of the layer call that submitted it). Times are epoch ms.
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      run: String, startMs: Double, endMs: Double)

/** One call into a layer, with the Spark work attributed to it. */
final case class LayerCall(span: Span, layer: String, stats: GroupStats)

/** Times calls into the layers from outside. Untraced, a whole pass is
  * one job group and no call is recorded. Traced, every layer call gets
  * its own job group (so the [[JobProbe]] attributes its jobs to it) and
  * a span; the spans stay in memory until [[spansJson]] at the end.
  */
final class Tracer(sc: SparkContext, probe: JobProbe, run: String) {
  private var nextId = 0
  private var traced = false
  private var passSpan = -1
  private val open = mutable.ArrayBuffer.empty[(Span, String, String)]
  val spans = mutable.ArrayBuffer.empty[Span]

  private def newId(): Int = { nextId += 1; nextId }

  /** Run one call into `layer`; `name` tells calls of a layer apart. */
  def layer[T](layer: String, name: String)(body: => T): T = {
    if (!traced) return body
    val id = newId()
    val group = s"bench-span-$id"
    sc.setJobGroup(group, s"$layer:$name", interruptOnCancel = false)
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    try body
    finally {
      val wallMs = (System.nanoTime() - t0) / 1e6
      open += ((Span(id, name, layer, passSpan, run, startMs, startMs + wallMs), layer, group))
    }
  }

  /** Run one pass. Returns the body's outcome, the pass wall time, the
    * pass's Spark totals, the layer calls (traced only) and whether every
    * job the pass started was seen to end, inside a known group.
    */
  def pass[T](traced: Boolean)(body: => T): PassRun[T] = {
    this.traced = traced
    passSpan = newId()
    val group = s"bench-pass-$passSpan"
    sc.setJobGroup(group, "pass", interruptOnCancel = false)
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val out = scala.util.Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    sc.setJobGroup("bench-untimed", "untimed", interruptOnCancel = false)
    // every event of the pass is delivered before anything is read
    BusDrain(sc)
    val passStats = probe.take(group)
    val calls = open.toVector.map { case (s, l, g) => LayerCall(s, l, probe.take(g)) }
    open.clear()
    val ungrouped = probe.takeUngrouped()
    val all = passStats +: calls.map(_.stats)
    val complete = ungrouped == 0 && all.forall(s => s.started == s.ended)
    val passRec = Span(passSpan, "pass", "pass", 0, run, startMs, startMs + wall * 1000)
    if (traced) {
      spans += passRec
      for (c <- calls) {
        spans += c.span
        for (j <- c.stats.jobs)
          spans += Span(newId(), s"job-${j.id}", "job", c.span.id, run,
            j.startMs.toDouble, j.endMs.toDouble)
      }
    }
    this.traced = false
    PassRun(out, wall, merged(all), calls, complete,
      s"ungrouped=$ungrouped " + all.map(s => s"${s.started}/${s.ended}").mkString(","))
  }

  private def merged(xs: Seq[GroupStats]): GroupStats = {
    val m = new GroupStats
    xs.foreach { s =>
      m.jobs ++= s.jobs; m.started += s.started; m.ended += s.ended
      m.taskMs += s.taskMs; m.shuffleWriteBytes += s.shuffleWriteBytes
      m.spillBytes += s.spillBytes
    }
    m
  }

  def spansJson: String = spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "kind" -> s.kind,
      "parent" -> s.parent, "run" -> s.run, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs)
  }.mkString("[\n", ",\n", "\n]")
}

final case class PassRun[T](out: scala.util.Try[T], wallS: Double,
                            stats: GroupStats, calls: Vector[LayerCall],
                            complete: Boolean, counts: String)

/** Minimal JSON rendering for the harness's own records. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) str(d.toString) else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Short => n.toString
    case n: Byte => n.toString
    case n: BigInt => n.toString
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => arr(xs.toSeq)
    case a: Array[_] => arr(a.toSeq)
    case r: org.apache.spark.sql.Row => arr(r.toSeq)
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def arr(xs: Seq[Any]): String = xs.map(value).mkString("[", ",", "]")
}
