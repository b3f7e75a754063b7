package perfbench

import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.core.Tables
import graft.streaming.StreamingTwins

final case class Grade(user_id: Long, ts: Timestamp, grade: Int, g_id: Long)
final case class Salary(user_id: Long, ts: Timestamp, salary: Int, s_id: Long)

/** The WindowJoin twin over two MemoryStream sides, fed with the fixture
  * corpus's events (key `user_id`, payload from `value`) in an order
  * shuffled by the seed, alternating sides. Phase (a): one open-loop generator thread adds each event when
  * it is due, stamped with its due time, at a fixed rate; an event's
  * latency runs from its due time to the commit of the micro-batch that
  * consumed it. Phase (b): a fixed backlog, loaded before the query
  * starts, is drained; its wall time is the pass. Both phases' outputs
  * are compared with the batch `windowedJoin` over the same events. */
object StreamJoin extends Workload {
  /** Events per second, both sides together, in the fixed-rate phase;
    * perfbench/README.md says how it was chosen. */
  val Rate = 800
  val RateSeconds = 6
  val Backlog = 15000
  val Window = "1 second"
  /** The generator adds what is due once per tick. Every add becomes an
    * input partition of the next micro-batch, so a finer tick makes each
    * batch schedule more tasks (at 10 ms, ~170 tasks and ~2 s a batch). */
  val TickNs = 100000000L

  private final case class Events(user: Array[Long], value: Array[Double]) {
    def grade(k: Int, tsMs: Long) =
      Grade(user(k % user.length), new Timestamp(tsMs), (math.abs(value(k % user.length)) * 7).toInt % 5 + 1, k)
    def salary(k: Int, tsMs: Long) =
      Salary(user(k % user.length), new Timestamp(tsMs), (math.abs(value(k % user.length)) * 100).toInt % 10000 + 1, k)
  }

  private final class ProgressLog extends StreamingQueryListener {
    val all = new ConcurrentLinkedQueue[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = all.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      all.asScala.toSeq.filter(_.runId == q.runId).groupBy(_.batchId).values.map(_.head)
        .toSeq.sortBy(_.batchId)
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + p.durationMs.get("triggerExecution")

  /** End offset of the side whose schema carries `idCol`, or -1. */
  private def endOffset(p: StreamingQueryProgress, idCol: String): Long =
    p.sources.find(_.description.contains(idCol)).flatMap(s => Option(s.endOffset))
      .map(_.trim.toLong).getOrElse(-1L)

  private var queryCount = 0
  private def startJoin(spark: SparkSession, g: MemoryStream[Grade], s: MemoryStream[Salary],
                        chk: String): (StreamingQuery, String) = {
    queryCount += 1
    val name = s"perfbench_join_$queryCount"
    val q = StreamingTwins.windowedJoin(g.toDF(), s.toDF(), "ts", "user_id", Window)
      .writeStream.format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", chk).start()
    (q, name)
  }

  private def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.select(col("user_id"), col("wstart").cast("long"), col("g_id"), col("s_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq.sorted

  /** Output rows that differ from the batch join over the same events. */
  private def mismatches(spark: SparkSession, table: String, g: Seq[Grade], s: Seq[Salary]): Long = {
    import spark.implicits._
    val expect = rows(StreamingTwins.windowedJoin(g.toDS().toDF(), s.toDS().toDF(), "ts", "user_id", Window))
    val got = rows(spark.table(table))
    val diff = (expect diff got).size + (got diff expect).size
    if (diff > 0) System.err.println(s"[perfbench] $table: ${got.size} rows, batch join ${expect.size}, $diff differ")
    diff.toLong
  }

  private def loadEvents(spark: SparkSession, dir: String, seed: Long): Events = {
    val rs = new scala.util.Random(seed).shuffle(
      Tables.events(spark, dir).orderBy("ts_ns", "event_id").select("user_id", "value").collect().toSeq)
    Events(rs.map(_.getLong(0)).toArray, rs.map(_.getDouble(1)).toArray)
  }

  def corpus(fixture: String, work: String, seed: Long): String = fixture

  def warmUp(spark: SparkSession, fixture: String, scratch: String): Unit = {
    import spark.implicits._
    val ev = loadEvents(spark, fixture, -1L)
    val g = MemoryStream[Grade](spark)
    val s = MemoryStream[Salary](spark)
    val (q, _) = startJoin(spark, g, s, s"$scratch/chk")
    try for (b <- 0 until 1) {
      val ks = (b * 200) until ((b + 1) * 200)
      g.addData(ks.filter(_ % 2 == 0).map(k => ev.grade(k, k.toLong)))
      s.addData(ks.filter(_ % 2 == 1).map(k => ev.salary(k, k.toLong)))
      q.processAllAvailable()
    } finally q.stop()
  }

  private final case class Add(grades: Boolean, offset: Long, ks: Seq[Int], addNs: Long)

  def pass(spark: SparkSession, corpus: String, scratch: String, seed: Long, tr: Trace): Pass = {
    import spark.implicits._
    val ev = loadEvents(spark, corpus, seed)
    val log = new ProgressLog
    spark.streams.addListener(log)

    // Phase (a): fixed rate, open loop.
    val total = Rate * RateSeconds
    val g = MemoryStream[Grade](spark)
    val s = MemoryStream[Salary](spark)
    val (qa, tableA) = startJoin(spark, g, s, s"$scratch/chk_a")
    val adds = ArrayBuffer.empty[Add]
    val gradesA = ArrayBuffer.empty[Grade]
    val salariesA = ArrayBuffer.empty[Salary]
    // One batch of two early events first, so that the timed events do
    // not wait for the query's first batch.
    val (primeG, primeS) = (ev.grade(total + Backlog, 0L), ev.salary(total + Backlog + 1, 0L))
    g.addData(Seq(primeG)); s.addData(Seq(primeS))
    gradesA += primeG; salariesA += primeS
    qa.processAllAvailable()
    val wall0 = System.currentTimeMillis() + 200
    val t0 = System.nanoTime() + 200L * 1000000L
    def dueNs(k: Int): Long = t0 + k * 1000000000L / Rate
    def dueMs(k: Int): Long = wall0 + k * 1000L / Rate
    val gen = new Thread(() => {
      var k = 0
      while (k < total) {
        val now = System.nanoTime()
        val due = math.min(total.toLong, (now - t0) * Rate / 1000000000L + 1).toInt
        if (due > k) {
          val ks = k until due
          val gs = ks.filter(_ % 2 == 0).map(i => ev.grade(i, dueMs(i)))
          val ss = ks.filter(_ % 2 == 1).map(i => ev.salary(i, dueMs(i)))
          if (gs.nonEmpty) adds += Add(true, g.addData(gs).json.trim.toLong, ks.filter(_ % 2 == 0), System.nanoTime())
          if (ss.nonEmpty) adds += Add(false, s.addData(ss).json.trim.toLong, ks.filter(_ % 2 == 1), System.nanoTime())
          gradesA ++= gs; salariesA ++= ss
          k = due
        }
        java.util.concurrent.locks.LockSupport.parkNanos(TickNs)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val stopMs = System.currentTimeMillis()
    qa.processAllAvailable()

    // Phase (b): drain a backlog loaded before the query starts.
    val g2 = MemoryStream[Grade](spark)
    val s2 = MemoryStream[Salary](spark)
    val backlog = total until total + Backlog
    val gradesB = backlog.filter(_ % 2 == 0).map(k => ev.grade(k, wall0 + k * 1000L / Rate))
    val salariesB = backlog.filter(_ % 2 == 1).map(k => ev.salary(k, wall0 + k * 1000L / Rate))
    g2.addData(gradesB)
    s2.addData(salariesB)
    val b0 = System.nanoTime()
    val (qb, tableB) = startJoin(spark, g2, s2, s"$scratch/chk_b")
    qb.processAllAvailable()
    val drainS = (System.nanoTime() - b0) / 1e9
    val heap = Stats.retainedHeapMb()
    org.apache.spark.perfbench.Counters.drain(spark.sparkContext)
    val progA = log.of(qa)
    val progB = log.of(qb)
    qa.stop(); qb.stop()
    spark.streams.removeListener(log)
    tr.collect()

    // Latency: due time -> commit of the first batch whose end offset
    // on that side covers the add.
    def consumedAt(a: Add): Option[Long] = {
      val idCol = if (a.grades) "g_id" else "s_id"
      progA.find(p => endOffset(p, idCol) >= a.offset).map(commitMs)
    }
    val commits = adds.toSeq.map(a => a -> consumedAt(a))
    val latencies = commits.flatMap { case (a, c) => c.toSeq.flatMap(ms => a.ks.map(k => (ms - dueMs(k)).toDouble)) }
    val lost = commits.collect { case (a, None) => a.ks.size }.sum
    val wrong = mismatches(spark, tableA, gradesA.toSeq, salariesA.toSeq) +
      mismatches(spark, tableB, gradesB, salariesB)

    val layers = if (!tr.on) Map.empty[String, Double] else {
      val all = progA ++ progB
      all.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
        tr.record(s"batch-${p.runId.toString.take(8)}-${p.batchId}", "batch",
          java.time.Instant.parse(p.timestamp).toEpochMilli, d.getOrElse("triggerExecution", 0.0),
          (d - "triggerExecution").toSeq.sortBy(_._1))
      }
      def med(ps: Seq[StreamingQueryProgress], key: String) =
        Stats.median(ps.flatMap(p => Option(p.durationMs.get(key)).map(_.toDouble)))
      val withData = progA.filter(_.numInputRows > 0)
      val stateOps = (p: StreamingQueryProgress) => p.stateOperators.toSeq
      val lastB = progB.lastOption.map(stateOps).getOrElse(Nil)
      Map(
        "exec.run_s" -> all.map(_.durationMs.get("triggerExecution").longValue / 1e3).sum,
        "stream.batches" -> withData.size.toDouble,
        "stream.rows_per_batch" -> (if (withData.isEmpty) 0.0 else withData.map(_.numInputRows).sum.toDouble / withData.size),
        "stream.trigger_ms" -> med(withData, "triggerExecution"),
        "stream.plan_ms" -> med(withData, "queryPlanning"),
        "stream.getbatch_ms" -> med(withData, "getBatch"),
        "stream.addbatch_ms" -> med(withData, "addBatch"),
        "stream.wal_ms" -> med(withData, "walCommit"),
        "stream.commit_ms" -> med(withData, "commitOffsets"),
        "stream.backlog_end" -> commits.collect { case (a, c) if c.forall(_ > stopMs) => a.ks.size }.sum.toDouble,
        "gen.late_ms" -> adds.map(a => (a.addNs - dueNs(a.ks.min)) / 1e6).maxOption.getOrElse(0.0),
        "state.rows" -> lastB.map(_.numRowsTotal).sum.toDouble,
        "state.mem_mb" -> lastB.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0),
        "state.commit_ms" -> Stats.median(withData.map(p => stateOps(p).map(_.commitTimeMs).sum.toDouble)),
        "state.dropped_late" -> all.flatMap(stateOps).map(_.numRowsDroppedByWatermark).sum.toDouble)
    }
    Pass(drainS, latencies, Backlog.toLong, (total + Backlog).toLong,
      math.min((total + Backlog).toLong, wrong + lost), heap, layers)
  }
}
