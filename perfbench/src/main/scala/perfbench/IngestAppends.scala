package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Tables
import graft.dedup.Dedup

/** A sequence of near-duplicate-gated appends, one per document slice of
  * the fixture corpus, each followed by a read of everything appended so
  * far. The seed decides slice membership, and with it which copy of a
  * near-duplicate arrives first and is kept. Writes run beside
  * reads of a growing set of parquet files under one live session. The
  * kept set of every append is compared with a batch replay of
  * `Dedup.incrementalNearDup` over the same slices in order. */
object IngestAppends extends Workload {
  val Slices = 10

  /** The documents in `n` slices by a seeded hash, and their number. */
  private def slices(spark: SparkSession, dir: String, seed: Long, n: Int): (Seq[DataFrame], Long) = {
    val docs = Tables.documents(spark, dir)
      .withColumn("__slice", pmod(xxhash64(col("doc_id"), lit(seed)), lit(n.toLong)))
      .localCheckpoint()
    ((0 until n).map(i => docs.filter(col("__slice") === i).drop("__slice")), docs.count())
  }

  /** Reads every kept document back; returns the plan's file relations. */
  private def readBack(spark: SparkSession, out: String): Int = {
    val df = spark.read.parquet(s"$out/data").agg(count(lit(1)), sum(col("doc_id")))
    df.collect()
    df.queryExecution.analyzed.collectLeaves().count(_.isInstanceOf[LogicalRelation])
  }

  def corpus(fixture: String, work: String, seed: Long): String = fixture

  def warmUp(spark: SparkSession, fixture: String, scratch: String): Unit =
    slices(spark, fixture, -1L, Slices)._1.take(1).zipWithIndex.foreach { case (df, i) =>
      Dedup.incrementalNearDupSink(s"$scratch/out")(df, i.toLong)
      readBack(spark, s"$scratch/out")
    }

  def pass(spark: SparkSession, corpus: String, scratch: String, seed: Long, tr: Trace): Pass = {
    val out = s"$scratch/out"
    val (parts, docs) = slices(spark, corpus, seed, Slices)
    val appendMs, readMs = Seq.newBuilder[Double]
    var relations = 0
    val t0 = System.nanoTime()
    for ((df, i) <- parts.zipWithIndex) {
      val op = s"append-$i"
      tr(op, "append") {
        val a0 = System.nanoTime()
        tr(op, "sink")(Dedup.incrementalNearDupSink(out)(df, i.toLong))
        val a1 = System.nanoTime()
        relations += tr(op, "read")(readBack(spark, out))
        appendMs += (a1 - a0) / 1e6
        readMs += (System.nanoTime() - a1) / 1e6
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val heap = Stats.retainedHeapMb()
    tr.collect()

    // Batch replay: the same gate over the same slices, in order.
    val emptyStore = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("bkey", StringType))))
    var seen = emptyStore
    var wrong = 0L
    for ((df, i) <- parts.zipWithIndex) {
      val expect = Dedup.incrementalNearDup(df, seen).select("doc_id").collect().map(_.getLong(0)).toSet
      val got = spark.read.parquet(s"$out/data/batch=$i").select("doc_id").collect().map(_.getLong(0)).toSet
      if (expect != got) {
        wrong += 1
        System.err.println(s"[perfbench] append $i kept ${got.size} docs, replay keeps ${expect.size}")
      }
      seen = seen.union(Dedup.nearDupBandKeys(df).select("bkey")).localCheckpoint()
    }

    val layers = if (!tr.on) Map.empty[String, Double] else {
      val store = new File(s"$out/store")
      def files(f: File): Seq[File] =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)
      val storeFiles = files(store).filter(_.getName.endsWith(".parquet"))
      val t1 = System.nanoTime()
      Tables.documents(spark, corpus)
      Map(
        "tables.resolve_ms" -> (System.nanoTime() - t1) / 1e6,
        "tables.relations" -> relations.toDouble,
        "exec.run_s" -> tr.seconds("sink"),
        "exec.slot_util" -> tr.taskSeconds("sink") / (tr.seconds("sink") * spark.sparkContext.defaultParallelism),
        "exec.first_task_wait_s" -> tr.firstTaskWaitS("sink"),
        "sink.call_ms" -> Stats.median(appendMs.result()),
        "sink.read_ms" -> Stats.median(readMs.result()),
        "store.files" -> storeFiles.size.toDouble,
        "store.mb" -> storeFiles.map(_.length).sum / (1024.0 * 1024.0))
    }
    Pass(seconds, appendMs.result(), docs, Slices.toLong, wrong, heap, layers)
  }
}
