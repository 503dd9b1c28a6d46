package perfbench

import java.util.UUID
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** A timed call into one layer of the program. `parent` names the span that
  * caused it ("" at the top); `tag` identifies one sample of one path. */
final case class Span(name: String, parent: String, tag: String,
    startNs: Long, endNs: Long)

/** Records every measured call. Samples (path -> wall seconds) are always
  * kept, since the end-to-end metrics are their medians; the Spark job tag
  * and the span list exist only in a traced run, and spans stay in memory
  * until [[Recorder.writeSpans]] at the end of the run.
  *
  * Each sample also records the share of the machine's CPU time that the
  * hypervisor gave to other guests while it ran (steal). On a shared VM
  * this varies from run to run by more than any other source of noise, so
  * [[Recorder.clean]] leaves out the samples it disturbed. */
final class Recorder(sc: SparkContext, traced: Boolean, cores: Int) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val stealShares = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Prepended to job tags, to keep warm-up and measured samples apart. */
  var tagPrefix = ""
  /** Open spans, innermost first, as (span name, job tag). */
  private var stack: List[(String, String)] = Nil

  /** Time `f` as one sample of `path`, a call into `layer`, nested in
    * whatever span is open. */
  def time[T](path: String, layer: String)(f: => T): T = {
    val buf = samples.getOrElseUpdate(path, mutable.ArrayBuffer.empty[Double])
    val tag = s"$tagPrefix$path#${buf.size}"
    val name = s"$layer:$path"
    val parent = stack.headOption.map(_._1).getOrElse("")
    stack = (name, tag) :: stack
    if (traced) sc.setLocalProperty(TaskListener.TagKey, tag)
    val steal0 = Recorder.stealTicks()
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      val capacity = (t1 - t0) / 1e9 * Recorder.TicksPerSecond * cores
      stealShares.getOrElseUpdate(path, mutable.ArrayBuffer.empty[Double]) +=
        (Recorder.stealTicks() - steal0) / capacity
      stack = stack.tail
      if (traced) {
        sc.setLocalProperty(TaskListener.TagKey, stack.headOption.map(_._2).orNull)
        spans += Span(name, parent, tag, t0, t1)
      }
      buf += (t1 - t0) / 1e9
    }
  }

  /** The samples of `path` taken while steal stayed within
    * [[Recorder.MaxSteal]]; if fewer than `atLeast`, the `atLeast` least
    * disturbed ones. */
  def clean(path: String, atLeast: Int): Seq[Double] = {
    val all = samples.getOrElse(path, Nil).toSeq.zip(stealShares.getOrElse(path, Nil))
    val quiet = all.filter(_._2 <= Recorder.MaxSteal)
    (if (quiet.size >= atLeast) quiet else all.sortBy(_._2).take(atLeast)).map(_._1)
  }

  def cleanCount(path: String): Int =
    stealShares.getOrElse(path, Nil).count(_ <= Recorder.MaxSteal)

  def clear(): Unit = { samples.clear(); stealShares.clear(); spans.clear() }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"name":"${s.name}","parent":"${s.parent}","tag":"${s.tag}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Recorder {
  /** Clock ticks per second of /proc/stat (USER_HZ, 100 on Linux). */
  val TicksPerSecond = 100.0
  /** Highest steal share of a sample that still counts as undisturbed. */
  val MaxSteal = 0.03

  /** Steal ticks summed over all CPUs since boot; 0 where unavailable. */
  def stealTicks(): Long =
    try {
      val in = new java.io.BufferedReader(new java.io.FileReader("/proc/stat"))
      try in.readLine().trim.split("\\s+")(8).toLong finally in.close()
    } catch { case _: Exception => 0L }
}

/** Per-sample task totals, keyed by the job tag [[Recorder]] sets. */
final class TaskTotals {
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var taskMaxMs = 0L
}

object TaskListener { val TagKey = "perfbench.tag" }

/** Aggregates executor task metrics per tagged sample: run, CPU and GC
  * time, shuffle bytes written and the slowest task. */
final class TaskListener extends SparkListener {
  private val stageTag = mutable.Map.empty[Int, String]
  val totals = mutable.Map.empty[String, TaskTotals]
  @volatile var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).map(_.getProperty(TaskListener.TagKey)).orNull
    if (tag != null) e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    stageTag.get(e.stageId).filter(_ => m != null).foreach { tag =>
      val t = totals.getOrElseUpdate(tag, new TaskTotals)
      t.runMs += m.executorRunTime
      t.cpuMs += m.executorCpuTime / 1e6
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.taskMaxMs = math.max(t.taskMaxMs, e.taskInfo.duration)
    }
  }

  /** Task-end events arrive on the listener bus after the job returns:
    * wait until no new event has arrived for `quietMs`. */
  def settle(quietMs: Long = 500, maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (last != events && System.currentTimeMillis() < deadline) {
      last = events
      Thread.sleep(quietMs)
    }
  }
}

/** Per-batch phases of every streaming query, attributed to the gate query
  * that was running when the streaming query started. */
final class StreamListener(current: () => String) extends StreamingQueryListener {
  private val owner = new java.util.concurrent.ConcurrentHashMap[UUID, String]
  private val live = java.util.concurrent.ConcurrentHashMap.newKeySet[UUID]()
  /** Gate query -> per-batch durationMs maps. */
  val batches = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Long]]]

  // onQueryStarted is delivered synchronously by DataStreamWriter.start(),
  // so `current()` still names the gate query that started the stream
  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    owner.put(e.id, current())
    live.add(e.id)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val gate = owner.get(e.progress.id)
    if (gate != null && e.progress.numInputRows > 0) synchronized {
      batches.getOrElseUpdate(gate, mutable.ArrayBuffer.empty) +=
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    }
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = live.remove(e.id)

  /** Progress events are asynchronous; wait for every stream to report
    * its termination, which the bus delivers after its last progress. */
  def settle(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (!live.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}
