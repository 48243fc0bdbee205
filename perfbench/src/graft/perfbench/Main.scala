package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up the workload several times
  * (each time from a fresh session), measure it for the given seconds
  * on the last session, check its outputs outside the timed region,
  * and write the raw record as JSON. `perfbench/run.py` turns the
  * record into metrics.
  *
  * Usage: Main <workload> <dataDir> <workDir> <seconds> <trace 0|1> <seed> <out.json>
  */
object Main {
  val SetupReps = 3

  trait Workload {
    /** Register tables, build state and warm up; timed as set-up. */
    def setup(s: SparkSession, rec: Recorder): Unit
    /** Undo what setup started, before the next set-up repetition. */
    def reset(s: SparkSession): Unit = ()
    def run(s: SparkSession, rec: Recorder, deadlineMs: Double): Unit
    /** Outside the timed region: results of the correctness check. */
    def check(s: SparkSession, rec: Recorder): Map[String, Any]
    def info: Map[String, Any] = Map.empty
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config(confs(cores, work))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def confs(cores: Int, work: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.sql.streaming.numRecentProgressUpdates" -> "100000")

  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, seedArg, out) = args
    val seconds = secondsArg.toDouble
    val seed = seedArg.toLong
    val cores = Runtime.getRuntime.availableProcessors()
    val rec = new Recorder(traceArg == "1")
    val w: Workload = workload match {
      case "batch_telemetry" => new BatchTelemetry(data, work, seed)
      case "stream_detect" => new StreamDetect(data, work, seed, cores)
      case "index_serve" => new IndexServe(data, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadBefore = graft.Bench.loadAvg()
    val probeStart = rec.now()
    val probe = graft.Bench.cpuProbe()
    val probeEnd = rec.now()

    val setups = (1 to SetupReps).map { i =>
      val t0 = rec.now()
      val s = session(cores, work)
      rec.attach(s)
      w.setup(s, rec)
      val t1 = rec.now()
      if (i < SetupReps) { w.reset(s); s.stop() }
      Map("start_ms" -> t0, "end_ms" -> t1)
    }
    val spark = SparkSession.active
    val t0 = rec.now()
    w.run(spark, rec, t0 + seconds * 1000)
    val t1 = rec.now()
    val check = w.check(spark, rec)
    val t2 = rec.now()
    val loadAfter = graft.Bench.loadAvg()

    val gcMs = ManagementFactory.getGarbageCollectorMXBeans
      .toArray(Array.empty[java.lang.management.GarbageCollectorMXBean])
      .map(_.getCollectionTime).sum
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans
      .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val record = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> rec.traced,
      "seconds" -> seconds, "nproc" -> cores,
      "host" -> Map(
        "load_before" -> loadBefore.map(l => Seq(l._1, l._2, l._3)),
        "load_after" -> loadAfter.map(l => Seq(l._1, l._2, l._3)),
        "cpu_probe_s" -> probe,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "confs" -> confs(cores, "<work>"),
      "setups" -> setups, "measure" -> Map("start_ms" -> t0, "end_ms" -> t1),
      "phases_s" -> Map(
        "jvm_start" -> (probeStart - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000,
        "cpu_probe" -> (probeEnd - probeStart) / 1000,
        "setups" -> (t0 - probeEnd) / 1000, "measure" -> (t1 - t0) / 1000,
        "check" -> (t2 - t1) / 1000),
      "check" -> check, "info" -> w.info,
      "jvm" -> Map("gc_ms" -> gcMs, "heap_peak_mb" -> heapPeak / 1048576.0,
        "threads_peak" -> ManagementFactory.getThreadMXBean.getPeakThreadCount,
        "vm_hwm_mb" -> vmHwmMb())) ++ rec.toMap
    spark.stop()
    Files.writeString(Paths.get(out), json(record))
  }

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def json(v: Any): String = mapper.writeValueAsString(v)

  /** Peak resident set of this JVM (VmHWM), in MiB; -1 off Linux. */
  def vmHwmMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Canonical digest of a result: its rows rendered and sorted, so
    * two executions agree exactly when they return the same multiset. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
