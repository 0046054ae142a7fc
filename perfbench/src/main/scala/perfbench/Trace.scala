package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval of a traced run. `key` names the listener counters
  * that belong to it (empty when none do); `counts` holds them, or the
  * streaming progress figures of a micro-batch. Times are epoch
  * microseconds. */
final case class Span(id: Int, parent: Int, name: String, startUs: Long,
    endUs: Long, key: String, var counts: Map[String, Double] = Map.empty) {
  def seconds: Double = (endUs - startUs) / 1e6
}

/** The spans of one traced run, held in memory and written out at the
  * end as JSON lines, each stamped with the run id. */
final class Trace(val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def epochUs(nanoTime: Long): Long = epochUs0 + (nanoTime - nano0) / 1000L

  def add(parent: Int, name: String, startUs: Long, endUs: Long,
      key: String = ""): Span = {
    val s = Span(spans.length, parent, name, startUs, endUs, key)
    spans += s
    s
  }

  /** Attaches every keyed span's listener counters. */
  def collect(probe: Probe): Unit =
    spans.filter(_.key.nonEmpty).foreach { s =>
      val c = probe.take(s.key)
      s.counts = s.counts ++ Probe.Names.indices.map(i => Probe.Names(i) -> c(i))
    }

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      Main.Json.writeValueAsString(Map("run" -> runId, "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs) ++ s.counts)
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
