package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.core.Tables

/** Analyst path: one client runs a fixed mix of `SparkEntry.queries`
  * over the generated `events` and `documents`, in a seeded order per
  * pass (closed loop). Each query is built, collected, and its cached
  * and checkpointed blocks are dropped afterwards, as `graft.Bench`
  * does. The results of the last pass are dumped for the DuckDB
  * oracle; every earlier execution must have returned the same rows.
  */
final class BatchTelemetry(data: String, work: String, seed: Long)
    extends Main.Workload {

  val mix: Seq[String] = Seq(
    "q148_holt_by_type", "q155_cusum_by_type", "q156_episodes_by_type",
    "q159_discord_by_type", "q161_keyed_ensemble",
    "q33_anomaly_window", "q47_anomaly_seasonal", "q53_sessionize",
    "q26_dedup_minhash", "q51_dedup_clusters", "q74_cluster_canonical",
    "q76_tfidf_terms")

  private val last = mutable.Map.empty[String, (Array[Row], StructType)]
  private var passes = 0

  private def execute(s: SparkSession, rec: Recorder, q: String): Array[Row] = {
    val df = rec.span(s"operators.$q", SparkEntry.queries(q)(s, data))
    val rows = rec.span("operators.exec", df.collect())
    last(q) = (rows, df.schema)
    rows
  }

  /** Drop what a query pinned (memo frames, cached tables, checkpoint
    * blocks), so one query's blocks never price the next one. */
  private def sweep(s: SparkSession): Unit = {
    graft.core.MemoRegistry.evictAll()
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def setup(s: SparkSession, rec: Recorder): Unit = {
    rec.span("core.tables", { Tables.events(s, data).schema; Tables.documents(s, data).schema })
    mix.foreach { q => execute(s, rec, q); sweep(s) }
  }

  def run(s: SparkSession, rec: Recorder, deadlineMs: Double): Unit = {
    val rng = new scala.util.Random(seed)
    while (passes == 0 || rec.now() < deadlineMs) {
      passes += 1
      rng.shuffle(mix).foreach { q =>
        rec.op("query", q, Map("pass" -> passes)) {
          Main.digest(execute(s, rec, q))
        }.foreach(d => rec.annotateLast("digest" -> d))
        sweep(s)
      }
    }
  }

  /** Write each query's last result and its oracle SQL for
    * `perfbench/oracle.py`; the digest ties every execution to it. */
  def check(s: SparkSession, rec: Recorder): Map[String, Any] = {
    val dir = s"$work/check"
    val digests = mix.flatMap { q =>
      last.get(q).map { case (rows, schema) =>
        s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
        q -> Main.digest(rows)
      }
    }.toMap
    val oracle = mix.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/oracle_sql.json"),
      Main.json(oracle))
    Map("dir" -> dir, "digests" -> digests)
  }

  override def info: Map[String, Any] = Map("mix" -> mix, "passes" -> passes)
}
