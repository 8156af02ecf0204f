package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side spans, recorded by listeners the benchmark registers in
  * traced runs: job intervals, task counts, shuffle bytes (also per job
  * group), and the Catalyst phase times of every executed plan. All times
  * are `System.nanoTime` at delivery on the listener bus.
  */
final class SparkSpans extends SparkListener {
  final case class Job(id: Int, startNs: Long, var endNs: Long)
  final class Counts {
    val jobs = new AtomicLong()
    val tasks = new AtomicLong()
    val shuffleBytes = new AtomicLong()
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Counts]()
  val tasks = new AtomicLong()

  /** Counts of the jobs run in job group `g` ("" for jobs in none). */
  def group(g: String): Counts = groups.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, Job(e.jobId, System.nanoTime(), -1L))
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    group(g).jobs.incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, g))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endNs = System.nanoTime())
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val g = group(stageGroup.getOrDefault(e.stageId, ""))
    g.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      g.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  def finished: Seq[Job] = jobs.values.asScala.filter(_.endNs > 0).toSeq

  /** Jobs that started inside [t0, t1). */
  def jobsIn(t0: Long, t1: Long): Seq[Job] =
    finished.filter(j => j.startNs >= t0 && j.startNs < t1)

  /** Length of the union of job intervals clipped to [t0, t1). */
  def coveredNs(t0: Long, t1: Long): Long = {
    val iv = finished.map(j => (math.max(j.startNs, t0), math.min(j.endNs, t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Mean number of jobs running while any job runs, over [t0, t1). */
  def overlap(t0: Long, t1: Long): Double = {
    val iv = finished.map(j => (math.max(j.startNs, t0), math.min(j.endNs, t1)))
      .filter { case (a, b) => b > a }
    val busy = coveredNs(t0, t1)
    if (busy == 0) 0.0 else iv.map { case (a, b) => (b - a).toDouble }.sum / busy
  }
}

/** Catalyst planning time of each executed plan: analysis, optimization
  * and physical planning, as the query's own phase tracker saw them.
  */
final class PlanSpans extends QueryExecutionListener {
  final case class Exec(atNs: Long, planNs: Long, durNs: Long)
  val execs = new ConcurrentLinkedQueue[Exec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    execs.add(Exec(System.nanoTime(), planMs * 1000000L, durationNs))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def planNsIn(t0: Long, t1: Long): Long =
    execs.asScala.filter(x => x.atNs >= t0 && x.atNs < t1).map(_.planNs).sum
}
