package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** What one measured pass over a workload's fixed input yields. */
final case class Pass(
    seconds: Double,             // wall time of the pass
    opMs: Seq[Double],           // latency of each operation that succeeded
    records: Long,               // input records the pass completed
    attempted: Long,
    failed: Long,                // failed or wrong-output operations
    heapMb: Double,              // retained heap at the end of the pass
    layers: Map[String, Double]) // workload-specific per-layer metrics

trait Workload {
  /** Makes the seeded input corpus under `work`; returns its directory. */
  def corpus(fixture: String, work: String, seed: Long): String
  /** Exercises the workload's code paths on the fixture corpus. */
  def warmUp(spark: SparkSession, fixture: String, scratch: String): Unit
  /** Runs the fixed input once, timing it, then checks the outputs. */
  def pass(spark: SparkSession, corpus: String, scratch: String, seed: Long, tr: Trace): Pass
}

/** One benchmark run inside one JVM: make the seeded inputs, set the
  * engine up (several times, for a median), run the workload's pass and
  * write `result.json` for `perfbench/run.py`.
  *
  * Usage: perfbench.Main <workload> <seed> <trace 0|1> <fixtureDir> <workDir> */
object Main {
  val SetupRepeats = 3

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, traceArg, fixture, work) = args
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val workload: Workload = name match {
      case "suite_small" => SuiteSmall
      case "stream_join" => StreamJoin
      case "ingest_appends" => IngestAppends
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val corpus = workload.corpus(fixture, work, seed)
    log("inputs ready")

    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      val spark = GraftSession.build("perfbench")
      workload.warmUp(spark, fixture, s"$work/warm$i")
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) spark.stop()
      s
    }
    val spark = SparkSession.active
    log(s"set up ${SetupRepeats}x: ${setups.map(s => f"$s%.2f").mkString(" ")} s")

    val plain = workload.pass(spark, corpus, s"$work/pass", seed, new Trace(spark, on = false))
    log(f"pass: ${plain.seconds}%.2f s, ${plain.opMs.size} ops (p50 ${Stats.median(plain.opMs)}%.1f ms), " +
      s"${plain.failed} failed")
    // A traced run adds a traced pass and a second untraced one; the
    // tracing overhead compares those two, which are equally warm.
    val tracedPass = if (!traced) None else {
      val tr = new Trace(spark, on = true)
      val p = workload.pass(spark, corpus, s"$work/traced", seed, tr)
      val after = workload.pass(spark, corpus, s"$work/after", seed, new Trace(spark, on = false))
      log(f"traced pass: ${p.seconds}%.2f s, untraced again: ${after.seconds}%.2f s")
      Some((p, tr, after))
    }
    val cores = spark.sparkContext.defaultParallelism
    val provenance = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toDouble,
      "spark_cores" -> cores.toDouble,
      "cpu_anchor_s" -> graft.Bench.cpuAnchorSec(),
      "par_anchor_s" -> graft.Bench.parAnchorSec(cores))

    log("host anchors taken")
    val (tailPct, tail) = Stats.tail(plain.opMs)
    val endToEnd = Seq(
      "setup_s" -> Stats.median(setups),
      "pass_s" -> plain.seconds,
      "op_p50_ms" -> Stats.median(plain.opMs),
      "op_tail_ms" -> tail,
      "throughput_eps" -> plain.records / plain.seconds,
      "retained_heap_mb" -> plain.heapMb)
    val perLayer = tracedPass.map { case (p, tr, after) => layerMetrics(p, tr, cores, after.seconds) }
      .getOrElse(Nil)
    val passes = plain +: tracedPass.toSeq.flatMap { case (p, _, after) => Seq(p, after) }
    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum

    tracedPass.foreach { case (_, tr, _) =>
      Files.write(Paths.get(s"$work/spans.jsonl"),
        tr.spansJsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
      Files.write(Paths.get(s"$work/layers.txt"), renderTable(tr).getBytes("UTF-8"))
    }
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s""""$k":${Stats.num(v)}""" }.mkString("{", ",", "}")
    val json =
      s"""{"attempted":$attempted,"failed":$failed,"op_count":${plain.opMs.size},""" +
        s""""op_tail_pct":$tailPct,"end_to_end":${obj(endToEnd)},""" +
        s""""per_layer":${obj(perLayer)},"provenance":${obj(provenance)}}"""
    Files.write(Paths.get(s"$work/result.json"), json.getBytes("UTF-8"))
    spark.stop()
  }

  /** Per-layer metrics of the traced pass: the workload's own, plus the
    * scheduler/task counters every workload has. */
  private def layerMetrics(p: Pass, tr: Trace, cores: Int, untracedS: Double): Seq[(String, Double)] = {
    val a = tr.all
    val runS = p.layers.getOrElse("exec.run_s", p.seconds)
    val taskS = a.runMs / 1e3
    val mb = 1024.0 * 1024.0
    val common = Seq(
      "exec.run_s" -> runS,
      "exec.jobs" -> a.jobs.toDouble,
      "exec.stages" -> a.stages.toDouble,
      "exec.single_task_stages" -> a.singleTaskStages.toDouble,
      "exec.tasks" -> a.tasks.toDouble,
      "exec.task_s" -> taskS,
      "exec.task_cpu_s" -> a.cpuNs / 1e9,
      "exec.gc_s" -> a.gcMs / 1e3,
      "exec.slot_util" -> p.layers.getOrElse("exec.slot_util", if (runS > 0) taskS / (runS * cores) else 0.0),
      "scan.bytes_mb" -> a.inBytes / mb,
      "scan.rows" -> a.inRecords.toDouble,
      "shuffle.write_mb" -> a.shuffleWriteBytes / mb,
      "shuffle.read_mb" -> a.shuffleReadBytes / mb,
      "spill.mb" -> a.spillBytes / mb,
      "sink.write_mb" -> a.outBytes / mb,
      "trace.pass_s" -> p.seconds,
      "trace.overhead_s" -> (p.seconds - untracedS),
      "trace.unexplained_s" -> tr.layerTable()._2.map(_._4).sum)
    LayerNames.map(n => n -> p.layers.getOrElse(n, 0.0)) ++ common
  }

  /** Every per-layer metric a traced run reports, whatever the workload:
    * a layer the workload leaves idle reads 0. */
  val LayerNames: Seq[String] = Seq(
    "tables.resolve_ms", "tables.relations",
    "entry.construct_s", "memo.build_s", "memo.builds",
    "catalyst.plan_s", "plan.exchanges", "exec.first_task_wait_s",
    "stream.batches", "stream.rows_per_batch", "stream.trigger_ms", "stream.plan_ms",
    "stream.getbatch_ms", "stream.addbatch_ms", "stream.wal_ms", "stream.commit_ms",
    "stream.backlog_end", "gen.late_ms",
    "state.rows", "state.mem_mb", "state.commit_ms", "state.dropped_late",
    "sink.call_ms", "sink.read_ms", "store.files", "store.mb")

  private def renderTable(tr: Trace): String = {
    val (layers, rows) = tr.layerTable()
    val head = ("op" +: "wall_ms" +: layers :+ "unexplained_ms").mkString("\t")
    def ms(s: Double) = f"${s * 1e3}%.1f"
    val body = rows.map { case (op, wall, parts, rest) =>
      (op +: ms(wall) +: parts.map(ms) :+ ms(rest)).mkString("\t")
    }
    val total = ("TOTAL" +: ms(rows.map(_._2).sum) +:
      layers.indices.map(i => ms(rows.map(_._3(i)).sum)) :+ ms(rows.map(_._4).sum)).mkString("\t")
    (head +: body :+ total).mkString("", "\n", "\n")
  }
}

object Stats {
  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** Nearest-rank percentile; 0 for no samples. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
    }

  /** The highest of the usual percentiles with at least ten samples
    * above it, and its value (the median when no percentile has). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = Seq(99.9, 99.0, 95.0, 90.0, 75.0).find { p =>
      xs.size - math.ceil(p / 100 * xs.size) >= 10
    }.getOrElse(50.0)
    (p, if (p == 50.0) median(xs) else percentile(xs, p))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Heap still in use after forced full collections. Spark's context
    * cleaner frees shuffle and broadcast state only after a collection
    * has found its owners unreachable, so collect until the heap stops
    * shrinking (at most five times). */
  def retainedHeapMb(): Double = {
    def used() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var (prev, cur, rounds) = (Long.MaxValue, used(), 1)
    while (prev - cur > (1L << 20) && rounds < 5) {
      Thread.sleep(100)
      prev = cur; cur = used(); rounds += 1
    }
    math.min(prev, cur) / (1024.0 * 1024.0)
  }
}
