package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Task metrics of one completed stage, summed over its tasks. */
final case class StageAgg(
    stageId: Int,
    tasks: Int,
    runMs: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    outputBytes: Long,
    rddIds: Set[Int])

/** One Spark job as submitted: its job group (set by the calling thread
  * or inherited by a pool thread it created) and its submission time. */
final case class JobRec(jobId: Int, group: Option[String], submitMs: Long)

/** Collects job starts and completed-stage task metrics. Attached by the
  * benchmark; graft itself registers no listener. */
final class JobListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JobRec(e.jobId, group, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (si.failureReason.isEmpty && m != null)
      stages += StageAgg(si.stageId, si.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.outputMetrics.bytesWritten, si.rddInfos.map(_.id).toSet)
  }

  def snapshot: (Seq[JobRec], Map[Int, Int], Seq[StageAgg]) = synchronized {
    (jobs.toList, stageJob.toMap, stages.toList)
  }
}

/** In-memory spans around calls into graft's public API, written out when
  * the run ends. Each span sets a job group on the calling thread so the
  * jobs it causes are attributed to it; a job without one of this run's
  * groups falls back to the innermost span whose time window holds its
  * submission. Single caller thread by construction. */
final class Tracer(sc: SparkContext, val runId: String) {
  final class Span(val id: Int, val name: String, val parent: Int,
      val startNs: Long, val startMs: Long) {
    var endNs: Long = -1L
    var endMs: Long = -1L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private val listener = new JobListener
  sc.addSparkListener(listener)

  private def groupOf(id: Int): String = s"$runId/$id"

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    open = s :: open
    sc.setJobGroup(groupOf(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(groupOf(p.id), p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def all: Seq[Span] = spans.toList
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toList

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toList

  private def subtree(id: Int): Set[Int] =
    children(id).flatMap(c => subtree(c.id)).toSet + id

  /** Duration minus the part of it that child spans cover. */
  def selfSeconds(s: Span): Double = {
    val covered = children(s.id).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        val from = math.max(a, reach)
        (if (b > from) acc + (b - from) else acc, math.max(reach, b))
      }._1
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Job → span attribution of every job so far, once the listener bus
    * has drained. */
  final case class Attribution(jobSpan: Map[Int, Int], byGroup: Int, byWindow: Int,
      stages: Seq[StageAgg], stageJob: Map[Int, Int], jobs: Seq[JobRec])

  def attribution: Attribution = {
    org.apache.spark.GraftBenchBridge.drainListeners(sc)
    val (jobs, stageJob, stages) = listener.snapshot
    val prefix = runId + "/"
    var byGroup = 0
    var byWindow = 0
    val jobSpan = jobs.flatMap { j =>
      j.group.filter(_.startsWith(prefix)).map(_.stripPrefix(prefix).toInt) match {
        case Some(id) => byGroup += 1; Some(j.jobId -> id)
        case None =>
          spans.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
            .sortBy(-_.startNs).headOption.map { s => byWindow += 1; j.jobId -> s.id }
      }
    }.toMap
    Attribution(jobSpan, byGroup, byWindow, stages, stageJob, jobs)
  }

  /** Jobs and completed stages caused inside `s` or its descendants. */
  def jobsIn(s: Span, a: Attribution = attribution): Seq[JobRec] = {
    val ids = subtree(s.id)
    a.jobs.filter(j => a.jobSpan.get(j.jobId).exists(ids.contains))
  }

  def stagesIn(s: Span): Seq[StageAgg] = {
    val a = attribution
    val jobIds = jobsIn(s, a).map(_.jobId).toSet
    a.stages.filter(st => a.stageJob.get(st.stageId).exists(jobIds.contains))
  }

  /** Spans as JSON lines: name, start, end, parent, run id, self time. */
  def dump(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val a = attribution
    val lines = spans.map { s =>
      Json.obj(Seq(
        "run_id" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> selfSeconds(s), "jobs" -> jobsIn(s, a).size))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
