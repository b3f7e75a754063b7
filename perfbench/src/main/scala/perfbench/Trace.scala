package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Counters
import org.apache.spark.sql.SparkSession

/** Spans recorded around the benchmark's calls into each engine layer.
  * One span tree per operation (a query, an append); spans stay in
  * memory and are written out once, at the end of a traced run. With
  * tracing off, `apply` only runs its body: the untraced run that yields
  * the end-to-end metrics carries no listener and no bookkeeping. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace.Span

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private val counters = if (on) Some(Counters.install(spark.sparkContext)) else None
  private var byTag = Map.empty[String, Counters.Acc]

  /** Runs `body` inside span `layer` of operation `op`; Spark jobs it
    * submits are charged to the span. Spans nest, on one thread. */
  def apply[T](op: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val sc = spark.sparkContext
      val prevTag = sc.getLocalProperty(Counters.TagKey)
      val id = spans.size
      spans += null
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      sc.setLocalProperty(Counters.TagKey, s"$op/$layer")
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, op, layer, parent, startMs, (System.nanoTime() - t0) / 1e9)
        open = open.tail
        sc.setLocalProperty(Counters.TagKey, prevTag)
      }
    }

  /** Adds a child span measured by the engine itself (memo build seconds
    * reported inside a construct span): it has a duration but no tag. */
  def child(op: String, layer: String, seconds: Double): Unit =
    if (on) spans += Span(spans.size, op, layer, open.headOption.getOrElse(-1), 0L, seconds)

  /** Adds an operation timed by the engine itself (a micro-batch, from
    * its progress report): a root span and one child span per part. */
  def record(op: String, layer: String, startMs: Long, seconds: Double,
             parts: Seq[(String, Double)]): Unit = if (on) {
    val root = spans.size
    spans += Span(root, op, layer, -1, startMs, seconds)
    parts.foreach { case (l, s) => spans += Span(spans.size, op, l, root, startMs, s) }
  }

  /** Drains the listener and takes the counters of every span so far. */
  def collect(): Unit = counters.foreach { c =>
    Counters.drain(spark.sparkContext)
    byTag = c.take()
  }

  def all: Counters.Acc = {
    val a = new Counters.Acc
    byTag.values.foreach(a += _)
    a
  }

  def spansOf(layer: String): Seq[Span] = spans.toSeq.filter(_.layer == layer)

  /** Task run time charged to the spans of `layer`. */
  def taskSeconds(layer: String): Double =
    spansOf(layer).flatMap(s => byTag.get(s"${s.op}/${s.layer}")).map(_.runMs).sum / 1e3

  def seconds(layer: String): Double = spansOf(layer).map(_.seconds).sum

  /** Σ over spans of `layer`: time from the span's start to its first
    * task launch (the whole span when it launched none). */
  def firstTaskWaitS(layer: String): Double = spansOf(layer).map { s =>
    byTag.get(s"${s.op}/${s.layer}").map(_.firstLaunchMs).filter(_ != Long.MaxValue) match {
      case Some(ms) => math.min(s.seconds, math.max(0L, ms - s.startMs) / 1e3)
      case None => s.seconds
    }
  }.sum

  /** Per operation: wall time, each layer's self time (its span minus
    * its children), and the remainder no child span covers. Rows sum to
    * the operation's wall time by construction. */
  def layerTable(): (Seq[String], Seq[(String, Double, Seq[Double], Double)]) = {
    val kids = spans.toSeq.groupBy(_.parent)
    def self(s: Span): Double = s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum
    def below(s: Span): Seq[Span] = kids.getOrElse(s.id, Nil).flatMap(k => k +: below(k))
    val roots = spans.toSeq.filter(_.parent < 0)
    val layers = roots.flatMap(below).map(_.layer).distinct
    val rows = roots.map { r =>
      val parts = below(r).groupMapReduce(_.layer)(self)(_ + _)
      (r.op, r.seconds, layers.map(parts.getOrElse(_, 0.0)), self(r))
    }
    (layers, rows)
  }

  def spansJsonLines: Seq[String] = spans.toSeq.map { s =>
    s"""{"id":${s.id},"op":"${graft.core.Json.escape(s.op)}","layer":"${s.layer}",""" +
      s""""parent":${s.parent},"start_ms":${s.startMs},"seconds":${s.seconds}}"""
  }
}

object Trace {
  final case class Span(id: Int, op: String, layer: String, parent: Int,
                        startMs: Long, seconds: Double)
}
