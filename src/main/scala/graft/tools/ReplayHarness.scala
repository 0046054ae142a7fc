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
  * and its checkpoint tree are ALWAYS torn down, and a failed stop or
  * delete writes one line to stderr without masking the body's error.
  *
  * Every replay checkpoints through [[CheckpointManager]], Spark's
  * FileSystem-based manager, instead of the default FileContext one.
  * Without libhadoop, Hadoop's local filesystem forks a `readlink`
  * process for each path a FileContext rename checks, and the offset
  * log, the commit log and every RocksDB changelog/snapshot write end
  * in such a rename: a JFR recording of one perfbench `stream_stateful`
  * run on a 4-core host counted 6,096 `readlink` among its 8,094
  * process starts. The FileSystem manager's exists-then-rename gives
  * the same guarantees here: the checkpoint is a fresh local temp
  * directory the harness owns, with one writer, and a local POSIX
  * rename is atomic.
  *
  * The same replays also write through [[ForkFreeLocalFileSystem]] as
  * the `file:` filesystem. Without libhadoop, the stock one forks a
  * `chmod` process for every file create and every mkdirs, `.crc`
  * siblings included: 2,528 of the 2,757 process starts of that run
  * under the FileSystem manager. [[ForkFreeLocalFileSystem]] sets the
  * same permission bits through java.nio and keeps the checksum
  * files. The JVM-wide FileSystem cache already holds the stock
  * instance, so the replay also bypasses it.
  *
  * Two more costs are paid per replay and per batch, not per event:
  *  - Each replay is a fresh query on a clone of the caller's session.
  *    Under artifact isolation (Spark's default) its jobs carry the
  *    clone's UUID, each executor builds that UUID a fresh class
  *    loader, and `CodeGenerator`'s cache, keyed on the loader, misses:
  *    every replay recompiles every generated class. One perfbench
  *    `stream_stateful` run (seed 1, 20 s, 4-core host) compiled 273
  *    classes in the 7 passes of its timed window, 39 per pass. The
  *    replay runs with [[graft.Session.SharedExecutorLoader]] instead:
  *    3 compiles in 9 passes.
  *  - `processAllAvailable` returns as soon as the stream thread finds
  *    no new data, and the thread then sleeps the polling delay (10 ms
  *    by default) before it looks again, so every next chunk waits
  *    out that sleep, about 10 ms per batch. The harness always has
  *    the next chunk ready, so it polls every 1 ms. Traced, with both
  *    changes, a pass spends 0.113 s outside every span (was 0.245 s).
  *    A `ProcessingTime` trigger still waits for its interval.
  *
  * All of [[ReplayConfs]] are session confs, read when the query
  * starts, so they reach the cloned session, the stream thread and
  * every Hadoop conf the query's checkpoint and state stores build;
  * the caller's values are restored after the replay. */
object ReplayHarness {

  private[graft] val CheckpointManager: (String, String) =
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager"

  /** Every conf a replay runs under: [[CheckpointManager]], the
    * fork-free `file:` filesystem, uncached, one executor class loader
    * for every replay and a 1 ms poll for the next chunk. */
  private[graft] val ReplayConfs: Seq[(String, String)] = Seq(
    CheckpointManager,
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    graft.Session.SharedExecutorLoader,
    "spark.sql.streaming.pollingDelay" -> "1ms")

  def run[T: Encoder](spark: SparkSession, name: String,
      rows: IndexedSeq[T], sentinels: Seq[T], chunks: Int,
      // a REAL sink when the sink itself is what's being measured
      // (Nexmark Q10's sharded file logging); default noop
      sinkFormat: String = "noop", sinkPath: Option[String] = None,
      sinkPartitionBy: Seq[String] = Nil)(
      f: Dataset[T] => Dataset[_]): (Double, Array[StreamingQueryProgress]) =
    graft.StreamingBench.withConfs(spark, ReplayConfs) {
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
        if (q != null) {
          try q.stop() catch { case e: Throwable => warn(s"stop $name", e) }
        }
        // RocksDB checkpoint trees accumulate across runs otherwise
        deleteTree(ckptDir)
      }
    }

  /** Deletes the tree under `root`, deepest paths first: checkpoint,
    * sink and stale temp-dir teardown. A failure writes one stderr line
    * and does not throw, so it never masks the caller's own error. */
  def deleteTree(root: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case e: Throwable => warn(s"delete $root", e) }

  /** One `[replay] what: class: message` line on stderr. */
  private[graft] def warn(what: String, e: Throwable): Unit =
    System.err.println(s"[replay] $what: ${e.getClass.getName}: " +
      Option(e.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse(""))

  /** durationMs lookup that tolerates absent keys (planning-only
    * batches) — the same helper all three call sites re-declared. */
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}
