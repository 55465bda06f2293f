package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task-level counters keyed by Spark job group. Attached only in traced
  * runs; untraced runs carry no listener. */
final class TaskProbe extends SparkListener {
  final case class Task(group: String, launch: Long, finish: Long, cpuNs: Long,
                        shuffleBytes: Long)
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobGroups = new ConcurrentLinkedQueue[(String, Long)]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    jobGroups.add((g, e.time))
    e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val (cpu, shuffle) =
      if (m == null) (0L, 0L)
      else (m.executorCpuTime, m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    tasks.add(Task(stageGroup.getOrDefault(e.stageId, ""), e.taskInfo.launchTime,
      e.taskInfo.finishTime, cpu, shuffle))
  }

  def jobs(p: String => Boolean): Int = jobGroups.asScala.count(j => p(j._1))
  def tasksOf(p: String => Boolean): Seq[Task] = tasks.asScala.filter(t => p(t.group)).toSeq
  /** Jobs and tasks started in [from, to] (epoch ms), whatever their group. */
  def jobsIn(from: Long, to: Long): Int = jobGroups.asScala.count(j => j._2 >= from && j._2 <= to)
  def tasksIn(from: Long, to: Long): Seq[Task] =
    tasks.asScala.filter(t => t.launch >= from && t.launch <= to).toSeq

  /** The common per-layer set S for one job group (minus wall_s and rows_out,
    * which the caller measures). */
  def layerStats(g: String): Map[String, Double] = {
    val ts = tasksOf(_ == g)
    val durs = ts.map(t => (t.finish - t.launch).toDouble)
    Map("cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1048576.0,
      "task_skew" -> (if (durs.isEmpty) 0.0 else durs.max / math.max(1.0, Stats.median(durs))))
  }

  /** Wall time in [from, to] (epoch ms) during which no task of any group ran. */
  def idleMs(from: Long, to: Long): Long = {
    val iv = tasks.asScala.map(t => (math.max(from, t.launch), math.min(to, t.finish)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var end = from
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (to - from) - covered
  }
}

object TaskProbe {
  def drain(spark: SparkSession): Unit = org.apache.spark.BenchBus.drain(spark.sparkContext)
}

/** In-memory span recorder; written out once when the run ends. */
final class Spans {
  final case class Span(name: String, parent: String, start: Long, end: Long)
  private val done = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[String]()

  /** Run `f` as span `name` under job group `name`; returns (result, seconds). */
  def apply[T](spark: SparkSession, name: String)(f: => T): (T, Double) = {
    val parent = stack.headOption.getOrElse("")
    stack.push(name)
    spark.sparkContext.setJobGroup(name, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val r = f
      val t1 = System.nanoTime()
      done += Span(name, parent, t0, t1)
      (r, (t1 - t0) / 1e9)
    } finally {
      stack.pop()
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(p, p, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** JSON lines: name, parent, start/end (s from the first span), self time
    * (duration minus the part covered by direct child spans). */
  def jsonLines: Seq[String] = {
    val t0 = if (done.isEmpty) 0L else done.map(_.start).min
    done.sortBy(_.start).map { s =>
      val kids = done.filter(_.parent == s.name).map(k => (k.start, k.end)).sortBy(_._1)
      var covered = 0L; var end = s.start
      kids.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
      val dur = s.end - s.start
      f"""{"name":"${s.name}","parent":"${s.parent}","start_s":${(s.start - t0) / 1e9}%.6f,""" +
        f""""end_s":${(s.end - t0) / 1e9}%.6f,"self_s":${(dur - covered) / 1e9}%.6f}"""
    }.toSeq
  }
}
