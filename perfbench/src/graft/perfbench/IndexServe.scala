package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.core.Tables
import graft.operators.{Similarity, TextAnalysis}
import graft.streaming.{Bm25Maintain, IvfMaintain}

/** Serving path: a BM25 and an IVF layout built at set-up from
  * `base/`, then one client alternates (closed loop) between applying a
  * seeded add/delete batch to both layouts and running one hybrid probe
  * (BM25 + stored IVF, both collected). Adds come from `feed/`, whose
  * ids never repeat `base/` ids. No sweep of checkpoint blocks between
  * operations, as a serving caller would not sweep, so a block leak
  * shows as measured cost.
  *
  * The check rebuilds both layouts from the surviving documents and
  * vectors (IVF with the same frozen centroids) and compares the last
  * probes of the maintained layouts with probes of the rebuild.
  */
final class IndexServe(data: String, work: String, seed: Long)
    extends Main.Workload {

  /** Steps every run makes, however slow; latency uses these probes,
    * so its sample count is fixed. */
  val MinSteps = 3
  val AddDocs = 40
  val DelDocs = 20
  val AddVecs = 20
  val DelVecs = 10
  val Vocab = Seq("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
    "row", "the", "agg", "key", "query", "a", "scan", "batch", "dup")

  private val base = s"$data/base"
  private val feed = s"$data/feed"
  private def bm25 = s"$work/layout/bm25"
  private def ivf = s"$work/layout/ivf"

  private val liveDocs = mutable.LinkedHashSet.empty[Long]
  private val liveVecs = mutable.LinkedHashSet.empty[Long]
  private var feedDocBytes: Map[Long, Long] = Map.empty
  private var feedDocIds: Array[Long] = Array.empty
  private var feedVecIds: Array[Long] = Array.empty
  private var docCursor = 0
  private var vecCursor = 0
  private var step = 0L
  private var userBytes = 0L
  private var lastTerms: Seq[String] = Nil
  private var lastProbe: (Array[Row], Array[Row]) = (Array.empty, Array.empty)
  private var probePlanFiles = 0L
  private var rng = new scala.util.Random(seed)

  private def probe(s: SparkSession, rec: Recorder, terms: Seq[String]): (Array[Row], Array[Row]) = {
    val b = rec.span("operators.bm25_probe", {
      val df = TextAnalysis.bm25Probe(s, bm25, terms)
      if (rec.traced) probePlanFiles += df.inputFiles.length
      df.collect()
    })
    val v = rec.span("operators.ivf_probe", {
      val df = Similarity.ivfProbeStored(s, ivf)
      if (rec.traced) probePlanFiles += df.inputFiles.length
      df.collect()
    })
    (b, v)
  }

  def setup(s: SparkSession, rec: Recorder): Unit = {
    import s.implicits._
    step = 0; docCursor = 0; vecCursor = 0; userBytes = 0
    graft.core.Fs.deleteRecursive(s, s"$work/layout")
    val docs = rec.span("core.tables", {
      Tables.embeddings(s, base).schema
      Tables.documents(s, base)
    })
    liveDocs.clear(); liveVecs.clear()
    liveDocs ++= docs.select($"doc_id").as[Long].collect()
    liveVecs ++= Tables.embeddings(s, base).select($"vec_id").as[Long].collect()
    feedDocBytes = Tables.documents(s, feed)
      .select($"doc_id", org.apache.spark.sql.functions.length($"text").cast("long"))
      .as[(Long, Long)].collect().toMap
    feedDocIds = feedDocBytes.keys.toArray.sorted
    feedVecIds = Tables.embeddings(s, feed).select($"vec_id").as[Long].collect().sorted
    rec.span("operators.bm25_build", TextAnalysis.bm25IndexWrite(docs, bm25))
    rec.span("operators.ivf_build", Similarity.ivfServingSetup(s, base, ivf))
    probe(s, rec, Vocab.take(3))
    probePlanFiles = 0
    rng = new scala.util.Random(seed)
  }

  /** Pick `n` live ids to delete, never id 0: the IVF layout's stored
    * query is vector 0, and the rebuild must still find it. */
  private def victims(live: mutable.LinkedHashSet[Long], n: Int): Seq[Long] =
    rng.shuffle(live.filter(_ != 0L).toIndexedSeq).take(n)

  def run(s: SparkSession, rec: Recorder, deadlineMs: Double): Unit =
    while ((step < MinSteps || rec.now() < deadlineMs) &&
        docCursor + AddDocs <= feedDocIds.length && vecCursor + AddVecs <= feedVecIds.length)
      stepOnce(s, rec)

  /** Apply the next seeded batch to both layouts, then probe both. */
  private def stepOnce(s: SparkSession, rec: Recorder): Unit = {
    import s.implicits._
    step += 1
    val addD = feedDocIds.slice(docCursor, docCursor + AddDocs)
    val addV = feedVecIds.slice(vecCursor, vecCursor + AddVecs)
    val delD = victims(liveDocs, DelDocs)
    val delV = victims(liveVecs, DelVecs)
    docCursor += AddDocs; vecCursor += AddVecs
    val terms = rng.shuffle(Vocab).take(3)
    val applied = rec.op("apply", "apply", Map("step" -> step)) {
      val docBatch = Tables.documents(s, feed).filter(col("doc_id").isin(addD: _*))
        .select(lit("add").as("op"), $"doc_id", $"lang", $"text")
        .unionByName(delD.toDF("doc_id").select(lit("del").as("op"), $"doc_id",
          lit(null).cast("string").as("lang"), lit(null).cast("string").as("text")))
      val vecBatch = Tables.embeddings(s, feed).filter(col("vec_id").isin(addV: _*))
        .select(lit("add").as("op"), $"vec_id", $"embedding")
        .unionByName(delV.toDF("vec_id").select(lit("del").as("op"), $"vec_id",
          lit(null).cast("array<float>").as("embedding")))
      rec.span("streaming.bm25_apply", Bm25Maintain.applyBatch(docBatch, step, bm25))
      rec.span("streaming.ivf_apply", IvfMaintain.applyBatch(vecBatch, step, ivf))
    }
    if (applied.isDefined) {
      liveDocs ++= addD; liveDocs --= delD
      liveVecs ++= addV; liveVecs --= delV
      // ids as 8 bytes, a vector as 64 float32, text as its length
      userBytes += addD.map(d => 8L + feedDocBytes(d)).sum + 8L * delD.size +
        addV.length * (8L + 64 * 4) + 8L * delV.size
    }
    rec.op("probe", "hybrid", Map("step" -> step)) {
      lastTerms = terms
      lastProbe = probe(s, rec, terms)
    }
  }

  /** Files and bytes under a layout root. */
  private def census(root: String): (Long, Long) = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) (0L, 0L)
    else {
      val files = java.nio.file.Files.walk(p).filter(f => java.nio.file.Files.isRegularFile(f))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
      (files.length.toLong, files.map(f => java.nio.file.Files.size(f)).sum)
    }
  }

  def check(s: SparkSession, rec: Recorder): Map[String, Any] = {
    import s.implicits._
    val (bf, bb) = census(bm25); val (vf, vb) = census(ivf)
    val layout = Map("files" -> (bf + vf), "bytes" -> (bb + vb), "user_bytes" -> userBytes,
      "probe_plan_files" -> probePlanFiles)
    val dir = s"$work/check"
    val docs = Tables.documents(s, base).unionByName(Tables.documents(s, feed))
      .filter(col("doc_id").isin(liveDocs.toSeq: _*))
    val vecs = Tables.embeddings(s, base).unionByName(Tables.embeddings(s, feed))
      .filter(col("vec_id").isin(liveVecs.toSeq: _*))
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    vecs.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    TextAnalysis.bm25IndexWrite(Tables.documents(s, dir), s"$work/rebuild/bm25")
    Similarity.ivfServingSetup(s, dir, s"$work/rebuild/ivf",
      centsPre = Some(s.read.parquet(s"$ivf/_cents")))
    val wantB = TextAnalysis.bm25Probe(s, s"$work/rebuild/bm25", lastTerms).collect()
    val wantV = Similarity.ivfProbeStored(s, s"$work/rebuild/ivf").collect()
    Map("bm25_ok" -> (Main.digest(wantB) == Main.digest(lastProbe._1) && wantB.nonEmpty),
      "ivf_ok" -> (Main.digest(wantV) == Main.digest(lastProbe._2) && wantV.nonEmpty),
      "bm25_rows" -> wantB.length, "ivf_rows" -> wantV.length,
      "live_docs" -> liveDocs.size, "live_vecs" -> liveVecs.size, "layout" -> layout)
  }

  override def info: Map[String, Any] = Map("steps" -> step, "latency_samples" -> MinSteps,
    "add_docs" -> AddDocs, "del_docs" -> DelDocs, "add_vecs" -> AddVecs, "del_vecs" -> DelVecs)
}
