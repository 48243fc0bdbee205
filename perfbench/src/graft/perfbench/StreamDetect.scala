package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Tables
import graft.operators.Anomaly
import graft.streaming.AnomalyStream
import graft.streaming.AnomalyStream.Event

/** Streaming core: a replayed telemetry feed into keyed detectors.
  *
  * Open loop first: one generator thread appends `TickEvents` events
  * every `TickMs` to each detector's `MemoryStream` (a MemoryStream
  * trims on commit, so detectors cannot share one), on a schedule that
  * does not wait for the detectors. A tick's latency runs from its due
  * time to the end of the last detector's trigger that covers its
  * offset. A closed loop follows: a fixed-size batch goes to every
  * detector and the next one waits until all have processed it; its
  * rate is the throughput.
  *
  * The check compares each detector's final per-key snapshot with its
  * batch twin over every event sent.
  */
final class StreamDetect(data: String, work: String, seed: Long, cores: Int)
    extends Main.Workload {

  val TickMs = 250L
  val TickEvents = 250
  val ClosedEvents = 4000
  val OpenShare = 0.6

  private case class Detector(name: String, start: Dataset[Event] => Dataset[_],
      twin: (SparkSession, String) => DataFrame, keyCols: Seq[String])

  private val detectors = Seq(
    Detector("cusum_by_type", AnomalyStream.cusumStreamByType,
      Anomaly.q155CusumByType, Seq("hour_h", "cusum_scaled")),
    Detector("holt_by_type", AnomalyStream.holtStreamByType,
      Anomaly.q148HoltByType, Seq("hour_h", "residual_scaled")),
    Detector("episode_by_type", AnomalyStream.episodeStreamByType,
      Anomaly.q156EpisodesByType, Seq("start_h", "len_h", "excess_scaled")),
    Detector("quantiles", (e: Dataset[Event]) => AnomalyStream.quantileStream(e),
      (s: SparkSession, d: String) => Anomaly.q152ExactQuantiles(s, d),
      Seq("p50", "p90", "p99"))
  ).take(math.max(1, cores))

  private var events: Array[Event] = Array.empty
  private var sent = 0
  private var rep = 0
  private var inputs: Seq[MemoryStream[Event]] = Nil
  private var queries: Seq[StreamingQuery] = Nil
  private val ticks = ArrayBuffer.empty[Map[String, Any]]
  private var closed = Map.empty[String, Any]

  private def send(n: Int): Long = {
    val batch = events.slice(sent, sent + n).toSeq
    sent += batch.size
    inputs.map(_.addData(batch).json.toLong).max
  }

  private def drain(): Unit = queries.foreach(_.processAllAvailable())

  def setup(s: SparkSession, rec: Recorder): Unit = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    rep += 1
    sent = 0
    events = rec.span("core.tables", Tables.events(s, data)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .orderBy($"event_id").as[Event].collect())
    inputs = detectors.map(_ => MemoryStream[Event])
    queries = detectors.zip(inputs).map { case (d, in) =>
      rec.span(s"streaming.${d.name}", d.start(in.toDS())
        .writeStream.outputMode("append").format("memory")
        .queryName(s"${d.name}_$rep")
        .option("checkpointLocation", s"$work/ckpt/${d.name}_$rep")
        .start())
    }
    send(TickEvents)
    drain()
  }

  override def reset(s: SparkSession): Unit = queries.foreach(_.stop())

  def run(s: SparkSession, rec: Recorder, deadlineMs: Double): Unit = {
    val t0 = rec.now()
    // a fixed tick count for a given run length: the tail's sample count
    val nTicks = math.max(1, math.round((deadlineMs - t0) * OpenShare / TickMs).toInt)
    val gen = new Thread(() => {
      (0 until nTicks).foreach { i =>
        val due = t0 + i * TickMs
        val wait = due - rec.now()
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        val sentAt = rec.now()
        val off = send(TickEvents)
        ticks += Map("due_ms" -> due, "sent_ms" -> sentAt, "done_ms" -> rec.now(),
          "offset" -> off, "events" -> TickEvents)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    drain()
    val c0 = rec.now()
    var batches = 0
    while ((batches == 0 || rec.now() < deadlineMs) && sent + ClosedEvents <= events.length) {
      rec.op("batch", "closed") { send(ClosedEvents); drain() }
      batches += 1
    }
    closed = Map("start_ms" -> c0, "end_ms" -> rec.now(), "batches" -> batches,
      "events" -> batches * ClosedEvents)
  }

  /** Final snapshot per key (the row with the largest `seen`) against
    * the batch twin over the `sent` events, written as a table. */
  def check(s: SparkSession, rec: Recorder): Map[String, Any] = {
    import s.implicits._
    val dir = s"$work/check"
    events.take(sent).toSeq.toDF().write.mode("overwrite").parquet(s"$dir/events.parquet")
    val verdicts = detectors.zip(queries).map { case (d, q) =>
      val cols = "event_type" +: d.keyCols
      def key(r: Row) = r.getAs[String]("event_type") -> cols.map(c => String.valueOf(r.getAs[Any](c)))
      val verdict = try {
        q.exception.foreach(e => throw e)
        val snap = s.table(q.name).collect().groupBy(_.getAs[String]("event_type"))
          .map { case (_, rows) => key(rows.maxBy(_.getAs[Long]("seen"))) }
        val twin = d.twin(s, dir).collect().map(key).toMap
        Map("ok" -> (snap == twin && twin.nonEmpty), "keys" -> twin.size)
      } catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          Map("ok" -> false, "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      q.stop()
      d.name -> verdict
    }.toMap
    Map("detectors" -> verdicts, "events_sent" -> sent)
  }

  override def info: Map[String, Any] = Map(
    "detectors" -> detectors.map(_.name),
    "queries" -> queries.map(q => Map("name" -> q.name, "id" -> q.id.toString)),
    "tick_ms" -> TickMs, "tick_events" -> TickEvents, "closed_events" -> ClosedEvents,
    "ticks" -> ticks.toList, "closed" -> closed,
    "recent_progress" -> queries.map(q => q.name -> q.recentProgress.map(_.json).toList).toMap)
}
