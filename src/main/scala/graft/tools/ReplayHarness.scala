package graft.tools

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The ONE MemoryStream replay-and-measure core shared by
  * StreamingBench and ScaleProbe — extracted (r16 review) after the
  * numRecentProgressUpdates ring-buffer undercount and the RocksDB
  * checkpoint-tree accumulation fix each had to be discovered once
  * and pasted three times into near-identical hand-rolled harnesses.
  *
  * Feeds `rows` through `f`'s query as `chunks` micro-batches into a
  * noop sink on a throwaway checkpoint (state commits, watermark
  * advance, and timer firing all on the measured path), then the
  * `sentinels` one batch each (late-watermark flushes); wall time runs
  * from query start through the final flush. Returns (wallSeconds,
  * recentProgress) — callers aggregate the progress array their own
  * way. Exceptions propagate (callers own failure policy); the query
  * and its checkpoint tree are ALWAYS torn down. */
object ReplayHarness {

  def run[T: Encoder](spark: SparkSession, name: String,
      rows: IndexedSeq[T], sentinels: Seq[T], chunks: Int,
      // a REAL sink when the sink itself is what's being measured
      // (Nexmark Q10's sharded file logging); default noop
      sinkFormat: String = "noop", sinkPath: Option[String] = None,
      sinkPartitionBy: Seq[String] = Nil)(
      f: Dataset[T] => Dataset[_]): (Double, Array[StreamingQueryProgress]) = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft_replay_" + name)
    var q: StreamingQuery = null
    try {
      val mem = MemoryStream[T]
      val out = f(mem.toDS())
      val t0 = System.nanoTime()
      var w = out.writeStream.format(sinkFormat)
        .option("checkpointLocation", ckptDir.toString)
        .outputMode("append")
      if (sinkPartitionBy.nonEmpty) w = w.partitionBy(sinkPartitionBy: _*)
      sinkPath.foreach(p => w = w.option("path", p))
      q = w.start()
      val sz = math.max(1, rows.size / chunks)
      rows.grouped(sz).foreach { g => mem.addData(g: _*); q.processAllAvailable() }
      sentinels.foreach { s => mem.addData(s); q.processAllAvailable() }
      ((System.nanoTime() - t0) / 1e9, q.recentProgress)
    } finally {
      if (q != null) { try q.stop() catch { case _: Throwable => () } }
      // RocksDB checkpoint trees accumulate across runs otherwise
      deleteTree(ckptDir)
    }
  }

  /** Best-effort delete of the tree under `root`, deepest paths first:
    * checkpoint, sink and stale temp-dir teardown. */
  def deleteTree(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Throwable => () }

  /** durationMs lookup that tolerates absent keys (planning-only
    * batches) — the same helper all three call sites re-declared. */
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}
