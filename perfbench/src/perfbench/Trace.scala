package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work done while one job description was set, inside a time
  * window: wall time covered by the jobs (overlaps counted once),
  * executor task time, shuffle bytes written, bytes spilled to disk,
  * job count, and the task durations of each stage.
  */
final case class Work(wallS: Double, busyS: Double, shuffleWriteMb: Double,
                      spillMb: Double, jobs: Int,
                      stageTaskMs: Seq[Seq[Long]]) {
  /** max/median task time of the stage with the longest task. */
  def taskSkew: Double = stageTaskMs.filter(_.nonEmpty)
    .maxByOption(_.max).map { ts =>
      val med = Stats.median(ts.map(_.toDouble))
      if (med > 0) ts.max / med else 1.0
    }.getOrElse(0.0)
}

/** Records what Spark ran, from a `SparkListener` registered by the
  * benchmark (the program under test is not instrumented), plus the
  * benchmark's own spans around each call into a layer. Jobs are
  * attributed by their job description: the crawl engine tags its phases
  * (`wave-N <phase>`), and the benchmark tags every other call itself.
  */
final class Tracer(spark: SparkSession) extends SparkListener {

  private final case class Job(desc: String, start: Long, var end: Long,
                               stages: Seq[Int])
  private final class StageAgg {
    var busyMs = 0L; var shuffleWrite = 0L; var spill = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
  }
  private final case class Span(name: String, id: String, parent: String,
                                start: Long, end: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, StageAgg]()
  private val spans = mutable.ArrayBuffer[Span]()

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    jobs(e.jobId) = Job(desc, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val agg = stages.getOrElseUpdate(e.stageId, new StageAgg)
    agg.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      agg.busyMs += m.executorRunTime
      agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      agg.spill += m.diskBytesSpilled
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Totals over the jobs whose description satisfies `p` and that
    * started inside [from, to] (epoch ms). A stage run by several
    * matching jobs is counted once.
    */
  def work(p: String => Boolean, from: Long = 0L,
           to: Long = Long.MaxValue): Work = {
    drain()
    synchronized {
      val js = jobs.values.filter(j => p(j.desc) && j.start >= from &&
        j.start <= to).toSeq
      val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
      Work(
        wallS = covered(js.map(j => (j.start, j.end))) / 1e3,
        busyS = ss.map(_.busyMs).sum / 1e3,
        shuffleWriteMb = ss.map(_.shuffleWrite).sum / 1e6,
        spillMb = ss.map(_.spill).sum / 1e6,
        jobs = js.size,
        stageTaskMs = ss.map(_.taskMs.toSeq))
    }
  }

  /** Milliseconds of [from, to] during which no job of any kind ran. */
  def idleMs(from: Long, to: Long): Long = {
    drain()
    synchronized {
      val in = jobs.values.map(j => (j.start max from, j.end min to))
        .filter { case (s, e) => e > s }.toSeq
      (to - from) - covered(in)
    }
  }

  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach)
        else (sum + e - (s max reach), e)
    }._1

  /** Time `f` as a span; `id` groups the spans of one wave or query. */
  def span[T](name: String, id: String, parent: String = "")(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally synchronized {
      spans += Span(name, id, parent, t0, System.currentTimeMillis())
    }
  }

  /** Summed duration of the spans whose name satisfies `p` and that
    * started inside [from, to] (epoch ms), in seconds.
    */
  def spanSeconds(p: String => Boolean, from: Long, to: Long): Double =
    synchronized {
      spans.filter(s => p(s.name) && s.start >= from && s.start <= to)
        .map(s => s.end - s.start).sum / 1e3
    }

  /** Write the benchmark's spans plus one span per Spark job (parent: the
    * innermost benchmark span that encloses the job's start) as JSON.
    */
  def flush(path: String): Unit = {
    drain()
    val out = synchronized {
      val own = spans.map(s => Map("name" -> s.name, "id" -> s.id,
        "parent" -> s.parent, "start_ms" -> s.start, "end_ms" -> s.end))
      val jobSpans = jobs.toSeq.map { case (jobId, j) =>
        val enclosing = spans.filter(s => s.start <= j.start && j.start <= s.end)
          .minByOption(s => s.end - s.start)
        Map("name" -> s"job $jobId ${j.desc}".trim,
          "id" -> enclosing.map(_.id).getOrElse(""),
          "parent" -> enclosing.map(_.name).getOrElse(""),
          "start_ms" -> j.start, "end_ms" -> j.end)
      }
      Json.render(own ++ jobSpans)
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), out + "\n")
  }
}
