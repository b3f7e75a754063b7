package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.Tables

/** A fixed sample of the declared batch queries, each run once in name
  * order and collected, on a fresh corpus with memos cleared first, as a
  * user meets them. Each query does little work, so table resolution,
  * Catalyst, job scheduling and memo builds make up most of its time.
  * The collected rows are written out after the timed pass for the
  * DuckDB oracle compare that `perfbench/run.py` runs. */
object SuiteSmall extends Workload {
  /** Every `Stride`-th query in name order, from the `Offset`-th: 23
    * queries, two of them memo builds (BPE merges, n-gram intersections).
    * The offset is one whose DuckDB oracles fit the run's time budget
    * (3.4 s on the gate corpus; offsets 1-3 take 9-10 s). */
  val Stride = 7
  val Offset = 5

  def sample: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.zipWithIndex.collect { case (q, i) if i % Stride == Offset => q }

  /** A content-different corpus with the fixture's schemas and keys,
    * derived from the seed (GenAlt runs and stops its own session). */
  def corpus(fixture: String, work: String, seed: Long): String = {
    graft.tools.GenAlt.main(Array(fixture, s"$work/corpus", seed.toString))
    s"$work/corpus"
  }

  def warmUp(spark: SparkSession, fixture: String, scratch: String): Unit = {
    SparkEntry.queries(sample.head)(spark, fixture).collect()
    SparkEntry.clearMemos(spark)
    spark.catalog.clearCache()
  }

  private val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Seconds and count of the memo builds recorded for `dir`. */
  private def memoTotal(dir: String): (Double, Int) = {
    var s = 0.0; var n = 0
    SparkEntry.memoSeconds.forEach((k, v) => if (k._1 == dir) { s += v; n += 1 })
    (s, n)
  }

  def pass(spark: SparkSession, corpus: String, scratch: String, seed: Long, tr: Trace): Pass = {
    SparkEntry.clearMemos(spark)
    SparkEntry.memoSeconds.keySet.removeIf(_._1 == corpus) // builds of an earlier pass
    var relations, exchanges = 0
    var failed = 0L
    val ops = Seq.newBuilder[Double]
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val t0 = System.nanoTime()
    for (q <- sample) {
      spark.catalog.clearCache()
      val q0 = System.nanoTime()
      try {
        tr(q, "query") {
          val df = tr(q, "construct") {
            val m0 = memoTotal(corpus)._1
            val df = SparkEntry.queries(q)(spark, corpus)
            tr.child(q, "memo", memoTotal(corpus)._1 - m0)
            df
          }
          tr(q, "plan")(df.queryExecution.executedPlan)
          results(q) = (tr(q, "exec")(df.collect()), df.schema)
          if (tr.on) {
            relations += fileRelations(df.queryExecution.analyzed)
            exchanges += exchangeCount(df.queryExecution.executedPlan)
          }
        }
        ops += (System.nanoTime() - q0) / 1e6
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] $q failed: ${e.getMessage}")
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    tr.collect()
    dumpOutputs(spark, results, scratch)
    results.clear()
    val heap = Stats.retainedHeapMb()

    val layers = if (!tr.on) Map.empty[String, Double] else {
      val (memoS, memoN) = memoTotal(corpus)
      Map(
        "tables.resolve_ms" -> resolveMs(spark, corpus),
        "tables.relations" -> relations.toDouble,
        "entry.construct_s" -> (tr.seconds("construct") - tr.seconds("memo")),
        "memo.build_s" -> memoS,
        "memo.builds" -> memoN.toDouble,
        "catalyst.plan_s" -> tr.seconds("plan"),
        "plan.exchanges" -> exchanges.toDouble,
        "exec.run_s" -> tr.seconds("exec"),
        "exec.slot_util" -> tr.taskSeconds("exec") / (tr.seconds("exec") * spark.sparkContext.defaultParallelism),
        "exec.first_task_wait_s" -> tr.firstTaskWaitS("exec"))
    }
    Pass(seconds, ops.result(), corpusRows(spark, corpus), sample.size.toLong, failed, heap, layers)
  }

  /** Median wall time of a direct `Tables.<t>(spark, dir)` call, per table. */
  private def resolveMs(spark: SparkSession, dir: String): Double = {
    val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
      "region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "events" -> Tables.events,
      "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)
    Stats.median(TableNames.map { t =>
      val t0 = System.nanoTime()
      loaders(t)(spark, dir)
      (System.nanoTime() - t0) / 1e6
    })
  }

  private def corpusRows(spark: SparkSession, dir: String): Long =
    TableNames.map(t => Tables.load(spark, dir, t).count()).sum

  private def fileRelations(plan: LogicalPlan): Int =
    plan.collectLeaves().count(_.isInstanceOf[LogicalRelation]) +
      plan.subqueriesAll.map(fileRelations).sum

  /** Exchanges the executed (final adaptive) plan ran; a reused
    * exchange moves no data again and is not counted. */
  private def exchangeCount(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchangeCount(a.executedPlan)
    case s: QueryStageExec => exchangeCount(s.plan)
    case _: ReusedExchangeExec => 0
    case p => (if (p.isInstanceOf[Exchange]) 1 else 0) +
      p.children.map(exchangeCount).sum + p.subqueries.map(exchangeCount).sum
  }

  /** One parquet file of collected rows per query plus the oracle SQL,
    * in the layout `tools/local_verify.py` compares. */
  private def dumpOutputs(spark: SparkSession, results: collection.Map[String, (Array[Row], StructType)],
                          scratch: String): Unit = {
    for ((q, (rows, schema)) <- results)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$scratch/out/$q")
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s""""${graft.core.Json.escape(k)}":"${graft.core.Json.escape(v)}""""
    }.mkString("{", ",", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$scratch/out/oracle_sql.json"),
      json.getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$scratch/out/queries.txt"),
      sample.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
