package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer tracing from outside the engine. The benchmark runs each
  * layer's public call under a Spark job group named after the span; this
  * listener files every job, and every task of its stages, under that
  * group. Nothing inside the engine is changed or instrumented.
  *
  * Streaming queries set their own job group (the query's run id), so
  * [[streamSpan]] files them under one span name.
  */
final class Trace(sc: SparkContext, cores: Int) extends SparkListener {

  final class Stats {
    var jobs = 0
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    var runMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val byGroup = mutable.HashMap.empty[String, Stats]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val spans = mutable.HashSet.empty[String]

  /** While set, jobs of any group the benchmark did not name (a streaming
    * query's run id) are filed under this span. */
  @volatile var streamSpan: String = null

  private def stats(g: String): Stats = byGroup.getOrElseUpdate(g, new Stats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val raw = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val g = if (streamSpan != null && raw.nonEmpty && !spans(raw)) streamSpan else raw
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- jobGroup.get(e.jobId); t0 <- jobStart.remove(e.jobId)) stats(g).jobSpans += ((t0, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stats(stageGroup.getOrElse(e.stageId, ""))
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.taskMs += e.taskInfo.duration
    }
  }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit = org.apache.spark.BenchBridge.drainListeners(sc)

  /** Run `body` as span `name`; return its result and wall seconds. */
  def span[T](name: String)(body: => T): (T, SpanTimes) = {
    synchronized(spans += name)
    sc.setJobGroup(name, name)
    val t0 = System.currentTimeMillis()
    try {
      val out = body
      (out, SpanTimes(t0, System.currentTimeMillis()))
    } finally sc.clearJobGroup()
  }

  /** The nine common metrics of one span, by suffix. */
  def common(name: String, t: SpanTimes, rowsOut: Long): Seq[(String, Double, String)] = {
    drain()
    val s = synchronized(stats(name))
    val wall = t.wallS
    // driver time = the part of the span's interval no job of the span covers
    val covered = union(s.jobSpans.toSeq.map { case (a, b) => (math.max(a, t.start), math.min(b, t.end)) }.filter(x => x._2 > x._1))
    val tasks = s.taskMs.sorted
    val median = if (tasks.isEmpty) 0L else tasks(tasks.length / 2)
    Seq(
      (s"$name.wall_s", wall, "s"),
      (s"$name.jobs", s.jobs.toDouble, "count"),
      (s"$name.rows_out", rowsOut.toDouble, "count"),
      (s"$name.driver_s", math.max(0.0, wall - covered / 1000.0), "s"),
      (s"$name.core_util", if (wall > 0) s.runMs / 1000.0 / (wall * cores) else 0.0, "ratio"),
      (s"$name.gc_s", s.gcMs / 1000.0, "s"),
      (s"$name.shuffle_mb", s.shuffleBytes / 1048576.0, "MB"),
      (s"$name.spill_mb", s.spillBytes / 1048576.0, "MB"),
      (s"$name.task_skew", if (median > 0) tasks.last.toDouble / median else 0.0, "ratio")
    )
  }

  def groupStats(name: String): Stats = { drain(); synchronized(stats(name)) }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- iv.sortBy(_._1)) {
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

final case class SpanTimes(start: Long, end: Long) {
  def wallS: Double = (end - start) / 1000.0
}

/** Micro-batch progress of the benchmark's streaming queries. */
final class StreamProgress extends StreamingQueryListener {
  final case class Batch(triggerMs: Long, addBatchMs: Long, planMs: Long, stateRows: Long, stateBytes: Long)
  private val batches = mutable.ArrayBuffer.empty[Batch]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    // AvailableNow ends with a no-data pass that reads no rows; it is not a
    // micro-batch of the replay
    if (p.numInputRows > 0) {
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      synchronized {
        batches += Batch(
          d("triggerExecution"),
          d("addBatch"),
          d("queryPlanning"),
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.memoryUsedBytes).sum
        )
      }
    }
  }

  def snapshot(): Seq[Batch] = synchronized(batches.toList)
  def clear(): Unit = synchronized(batches.clear())
}
