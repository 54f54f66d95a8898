package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed call into a layer. `attrs` holds counts the benchmark
  * records at the same boundary (rows, files, lines read).
  */
final class Span(val id: Int, val name: String, val parent: Int, val startNs: Long) {
  var endNs: Long = startNs
  val attrs: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span while it was the innermost one. */
final class SparkAcc {
  var jobs, stages, tasks = 0L
  var jobMs, resultStageMs = 0L
  var cpuNs, shuffleWrite, spill, recordsRead, outBytes = 0L
}

/** Records a span around each call into a layer. Spans always carry
  * wall time; with `traced` a listener also attributes each Spark job,
  * stage and task to the innermost active span, found through a local
  * property set on the calling thread.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private val listener = new SpanListener
  if (traced) sc.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), System.nanoTime())
    spans += s
    stack = s :: stack
    if (traced) sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      if (traced) sc.setLocalProperty(Tracer.Key, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Set a count on the innermost active span. */
  def attr(key: String, value: Double): Unit = stack.headOption.foreach(_.attrs(key) = value)

  /** Spark work of span `id` alone (children excluded). Waits until
    * the listener has seen every event posted so far.
    */
  def spark(id: Int): SparkAcc = {
    if (traced) org.apache.spark.PerfbenchBus.drain(sc)
    listener.acc(id)
  }

  def stop(): Unit = if (traced) sc.removeSparkListener(listener)
}

object Tracer { val Key = "perfbench.span" }

private final class SpanListener extends SparkListener {
  private val bySpan = mutable.Map.empty[Int, SparkAcc]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val resultStages = mutable.Set.empty[Int]

  def acc(id: Int): SparkAcc = synchronized(bySpan.getOrElse(id, new SparkAcc))
  private def at(id: Int) = bySpan.getOrElseUpdate(id, new SparkAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key))).foreach { s =>
      val id = s.toInt
      jobSpan(e.jobId) = id
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = id)
      if (e.stageIds.nonEmpty) resultStages += e.stageIds.max
      at(id).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { id =>
      at(id).jobMs += e.time - jobStart.remove(e.jobId).getOrElse(e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageSpan.get(info.stageId).foreach { id =>
      val a = at(id)
      a.stages += 1
      if (resultStages.remove(info.stageId))
        for (s <- info.submissionTime; c <- info.completionTime) a.resultStageMs += c - s
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { id =>
      val a = at(id)
      a.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }
}
