package graftbench

import scala.util.Try

/** Host stamp carried by every result record, the same fields graft.Bench
  * stamps: a run taken on a contended host identifies itself. */
object Host {
  /** 1-minute load average, −1 when unreadable. */
  def load1: Double =
    Try(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .split(" ")(0).toDouble).getOrElse(-1.0)

  /** OS page-cache size in MB, −1 when unreadable. */
  def pageCacheMb: Long =
    Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("Cached:") => l.split("\\s+")(1).toLong / 1024 }
      .getOrElse(-1L)).getOrElse(-1L)

  def heapMb: Long = Runtime.getRuntime.maxMemory / (1024 * 1024)

  final case class Stamp(nproc: Int, heapMb: Long, load1Start: Double, pageCacheMbStart: Long) {
    def fields: Seq[(String, Any)] = Seq(
      "nproc" -> nproc, "driver_heap_mb" -> heapMb,
      "load_1m_start" -> load1Start, "load_1m_end" -> load1,
      "page_cache_mb_start" -> pageCacheMbStart, "page_cache_mb_end" -> pageCacheMb)
  }

  def start(nproc: Int): Stamp = Stamp(nproc, heapMb, load1, pageCacheMb)
}
