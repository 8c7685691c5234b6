package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark span: a named interval around a public call. */
final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-span counters from the listener. Job wall time is split by kind:
  * `readback` (JDBC scans and the broadcasts that carry them), `append`
  * (the JDBC write job) and `other` (counts, checksums, cache fills). */
final class SpanStats {
  var jobs, stages, tasks = 0L
  var shuffleRead, shuffleWrite, spill, runTimeMs = 0L
  val jobMsByKind: mutable.Map[String, Long] = mutable.Map().withDefaultValue(0L)
  def +=(o: SpanStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; runTimeMs += o.runTimeMs
    o.jobMsByKind.foreach { case (k, v) => jobMsByKind(k) += v }
  }
}

/** Attributes Spark jobs, stages and tasks to the benchmark span that was
  * open on the submitting thread. The span id travels as a local
  * property, which Spark copies to the threads that run broadcast
  * exchanges, so broadcast jobs land in the span that needed them. */
final class SpanListener extends SparkListener {
  private final case class Job(span: Int, kind: String, start: Long)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val stats = new ConcurrentHashMap[Int, SpanStats]()
  /** job id, span, kind, description, stage names — written with the spans. */
  val jobLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  private def of(span: Int): SpanStats = stats.computeIfAbsent(span, _ => new SpanStats)

  /** Append jobs are the JDBC writer's own job, whose stages carry the
    * `DataFrameWriter.jdbc` call site; read-back jobs scan a JDBC
    * relation, directly or inside a broadcast exchange. */
  private def kind(stages: Seq[StageInfo]): String =
    if (stages.exists(_.name.startsWith("jdbc at "))) "append"
    else if (stages.exists(_.rddInfos.exists(_.name.contains("JDBCRDD")))) "readback"
    else "other"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Property)))
      .map(_.toInt).getOrElse(0)
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    val k = kind(e.stageInfos)
    jobs.put(e.jobId, Job(span, k, e.time))
    e.stageIds.foreach(s => stageSpan.put(s, span))
    val st = of(span)
    st.synchronized { st.jobs += 1 }
    jobLog.add(s"${e.jobId}\t$span\t$k\t${desc.replace('\n', ' ')}\t" +
      e.stageInfos.map(_.name).mkString(";"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      val st = of(j.span)
      st.synchronized { st.jobMsByKind(j.kind) += e.time - j.start }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val st = of(stageSpan.getOrDefault(e.stageInfo.stageId, 0))
    st.synchronized { st.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val st = of(stageSpan.getOrDefault(e.stageId, 0))
    val m = e.taskMetrics
    st.synchronized {
      st.tasks += 1
      if (m != null) {
        st.runTimeMs += m.executorRunTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** Span recorder. Its listener is registered for as long as the tracer
  * lives; untraced runs make no tracer. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List(0)
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size + 1, name, stack.head, System.nanoTime())
    spans += s
    stack = s.id :: stack
    sc.setLocalProperty(Tracer.Property, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.Property, stack.head.toString)
    }
  }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Listener counters of a span and all spans below it. */
  def stats(s: Span): SpanStats = {
    val out = new SpanStats
    val kids = children
    def walk(id: Int): Unit = {
      Option(listener.stats.get(id)).foreach(st => st.synchronized(out += st))
      kids.getOrElse(id, Nil).foreach(k => walk(k.id))
    }
    walk(s.id)
    out
  }

  /** Span duration minus the part covered by its direct children. */
  def selfSeconds(s: Span): Double =
    s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum

  /** Writes spans (id, name, parent, start, end, self time, and the
    * listener's counters for the span and the spans below it) and the
    * job log as tab-separated text. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = Seq("# span\tid\tname\tparent\tstart_s\tend_s\tself_s\tjobs\tstages\ttasks" +
        "\tshuffle_read_bytes\tshuffle_write_bytes\tspill_bytes\texecutor_run_ms\treadback_ms\tappend_ms") ++
      spans.map { s =>
        val st = stats(s)
        f"span\t${s.id}\t${s.name}\t${s.parent}\t${(s.startNs - t0) / 1e9}%.6f\t" +
          f"${(s.endNs - t0) / 1e9}%.6f\t${selfSeconds(s)}%.6f\t${st.jobs}\t${st.stages}\t${st.tasks}\t" +
          s"${st.shuffleRead}\t${st.shuffleWrite}\t${st.spill}\t${st.runTimeMs}\t" +
          s"${st.jobMsByKind("readback")}\t${st.jobMsByKind("append")}"
      } ++
      Seq("# job\tid\tspan\tkind\tdescription\tstages") ++
      listener.jobLog.asScala.map("job\t" + _)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val Property = "perfbench.span"
}
