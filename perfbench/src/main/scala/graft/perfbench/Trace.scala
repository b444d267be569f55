package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Span recorder and Spark counter listener for the traced runs.
  *
  * The workloads run one operation at a time on the calling thread, so
  * spans nest strictly and each Spark job belongs to the innermost span
  * open when the job was submitted. Jobs are matched to spans after the
  * run by submission time, which also covers jobs that the engine
  * submits from its own helper threads. Everything is kept in memory
  * and summarised once at the end.
  */
final class Trace extends SparkListener {
  final class Span(val id: Int, val name: String, val parent: Int, val depth: Int,
                   val startMs: Long, val startNs: Long) {
    var endMs: Long = startMs
    var endNs: Long = startNs
    val counts: mutable.Map[String, Double] = mutable.Map.empty
    def wallS: Double = (endNs - startNs) / 1e9
    def module: String = name.takeWhile(_ != '.')
  }

  final class Job(val id: Int, val startMs: Long, val stages: Seq[Int]) {
    @volatile var endMs: Long = startMs
  }

  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var shuffleBytes = 0L; var inputBytes = 0L
  }

  /** Spans and jobs are recorded only while enabled, so one traced run
    * can interleave traced and untraced operations.
    */
  @volatile var enabled = false

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.ArrayBuffer.empty[Span]
  private val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Job]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.lastOption
      val s = new Span(spans.length, name, parent.map(_.id).getOrElse(-1),
        stack.length, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack += s
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack.remove(stack.length - 1)
      }
    }

  /** Add to a counter on the innermost open span (no-op when untraced). */
  def count(counter: String, n: Double): Unit =
    if (enabled) stack.lastOption.foreach(s =>
      s.counts(counter) = s.counts.getOrElse(counter, 0.0) + n)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (enabled) {
      val j = new Job(e.jobId, e.time, e.stageIds)
      jobById.put(e.jobId, j); jobs.add(j)
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val m = e.taskMetrics
      val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }

  /** Per-span totals after the run: own Spark counters (jobs attributed
    * to the innermost span), self time and driver-only time.
    */
  final case class SpanStats(span: Span, jobs: Int, tasks: Long, taskS: Double,
                             shuffleBytes: Long, inputBytes: Long,
                             selfS: Double, driverS: Double)

  def stats(): Seq[SpanStats] = {
    val children = spans.groupBy(_.parent)
    // innermost span containing the submission instant: the deepest one
    // whose interval covers it (spans on one thread nest strictly)
    def owner(j: Job): Option[Span] =
      spans.iterator.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
        .maxByOption(s => (s.depth, s.startNs))
    // a stage listed by several jobs (reused shuffle output) ran its
    // tasks once, in the first job that listed it
    val stageOwner = mutable.Map.empty[Int, Job]
    jobs.toArray(Array.empty[Job]).sortBy(_.id).foreach(j =>
      j.stages.foreach(st => if (!stageOwner.contains(st)) stageOwner(st) = j))
    val owned = mutable.Map.empty[Int, mutable.ArrayBuffer[Job]]
    jobs.forEach(j => owner(j).foreach(s =>
      owned.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += j))
    spans.toSeq.map { s =>
      val js = owned.getOrElse(s.id, mutable.ArrayBuffer.empty[Job])
      val aggs = js.flatMap(j => stageOwner.collect { case (st, `j`) => st })
        .flatMap(id => Option(stages.get(id)))
      val childWall = children.getOrElse(s.id, Nil).map(_.wallS).sum
      // time the span spends with none of ITS OWN jobs running and no
      // child span open: driver-side orchestration of this layer
      val busy = union(js.map(j => (j.startMs, j.endMs)).toSeq ++
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
      SpanStats(s, js.size, aggs.map(_.tasks).sum, aggs.map(_.runMs).sum / 1e3,
        aggs.map(_.shuffleBytes).sum, aggs.map(_.inputBytes).sum,
        math.max(0.0, s.wallS - childWall),
        math.max(0.0, s.wallS - busy / 1e3))
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
