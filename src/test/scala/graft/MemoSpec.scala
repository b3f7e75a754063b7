package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SparkEntry's shared-frame memo: built once per (session, dir, name),
  * rebuilt when the files under the dir change, and safe to evict before
  * a wholesale unpersist. Runs on a private copy of the sf0.001 corpus so
  * that rewriting its tables touches nothing else. */
class MemoSpec extends SparkSuite {

  private val src = Paths.get("/root/testdata/sf0.001")
  private lazy val dir: Path = {
    val d = Files.createTempDirectory("memo-spec")
    Files.list(src).forEach(f => Files.copy(f, d.resolve(f.getFileName)))
    d
  }

  override protected def afterAll(): Unit = {
    try {
      SparkEntry.clearMemos(spark)
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    } finally super.afterAll()
  }

  private def run(s: SparkSession, q: String): DataFrame =
    SparkEntry.queries(q)(s, dir.toString)
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** What a session that has never seen `dir` computes for `q`. */
  private def fresh(q: String): Seq[String] = {
    val s = spark.newSession()
    try rows(run(s, q)) finally SparkEntry.clearMemos(s)
  }

  /** Replaces `table` in the copy with `derive` applied to the original. */
  private def rewrite(table: String)(derive: DataFrame => DataFrame): Unit = {
    val target = dir.resolve(s"$table.parquet")
    val df = derive(spark.read.parquet(src.resolve(s"$table.parquet").toString))
    Files.delete(target)
    df.write.parquet(target.toString)
  }

  private def memoSec(name: String): Option[Double] =
    Option(SparkEntry.memoSeconds.get((dir.toString, name)))

  test("a second call in one session reuses the memo") {
    val first = run(spark, "q_minhash_lsh_pairs")
    val built = memoSec("lsh_pairs")
    assert(built.isDefined)
    assert(run(spark, "q_minhash_lsh_pairs") eq first)
    assert(memoSec("lsh_pairs") == built, "the second call rebuilt")
  }

  test("rewritten documents rebuild the LSH pair memo") {
    val before = rows(run(spark, "q_minhash_lsh_pairs"))
    // every odd doc becomes an exact copy of the doc before it: new pairs
    val prev = lag(col("text"), 1).over(Window.orderBy("doc_id"))
    rewrite("documents")(_.withColumn("text",
      when(col("doc_id") % 2 === 1, coalesce(prev, col("text"))).otherwise(col("text"))))
    val expected = fresh("q_minhash_lsh_pairs")
    assert(expected != before, "the rewrite must change the query's answer")
    assert(rows(run(spark, "q_minhash_lsh_pairs")) == expected)
  }

  test("rewritten embeddings rebuild the IVF fold memo") {
    val before = rows(run(spark, "q_ivf_incremental"))
    rewrite("embeddings")(_.withColumn("embedding", transform(col("embedding"),
      (x, i) => (x * (lit(0.8) + ((col("vec_id") + i) % 5) * 0.1)).cast("float"))))
    val expected = fresh("q_ivf_incremental")
    assert(expected != before, "the rewrite must change the query's answer")
    assert(rows(run(spark, "q_ivf_incremental")) == expected)
  }

  test("clearMemos before unpersisting every RDD leads to a clean rebuild") {
    val first = run(spark, "q_minhash_lsh_pairs")
    val expected = rows(first)
    SparkEntry.clearMemos(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val rebuilt = run(spark, "q_minhash_lsh_pairs")
    assert(rebuilt ne first)
    assert(rows(rebuilt) == expected)
  }
}
