package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark's local-property keys for the job group (private[spark] there). */
object JobProps {
  val group = "spark.jobGroup.id"
  val desc = "spark.job.description"
}

/** Spark task counters summed per job group. The tracer names each job
  * group `<layer>|<span id>`, so every counter lands on the span (and the
  * layer) whose call launched the job. Jobs outside any span are ignored. */
final class WorkCounters extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var inputBytes, shuffleReadBytes, shuffleWriteBytes, shuffleRecords = 0L
    var spillBytes, outputBytes = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      failedTasks += o.failedTasks; runMs += o.runMs; cpuNs += o.cpuNs
      gcMs += o.gcMs; inputBytes += o.inputBytes
      shuffleReadBytes += o.shuffleReadBytes
      shuffleWriteBytes += o.shuffleWriteBytes
      shuffleRecords += o.shuffleRecords; spillBytes += o.spillBytes
      outputBytes += o.outputBytes
    }
  }

  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(JobProps.group)))
    g.foreach { g =>
      acc(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      if (e.reason != Success) a.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Counters of the groups whose name passes `keep`, summed. */
  def sum(keep: String => Boolean): Acc = synchronized {
    val out = new Acc
    byGroup.foreach { case (g, a) => if (keep(g)) out.add(a) }
    out
  }
}

/** In-memory spans around the benchmark's calls into each engine layer.
  * Disabled (the untraced run), `span` is a plain call: no job group, no
  * listener, no record. Spans are written as JSON when the run ends. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long, attrs: Map[String, String])

final class Tracer(sc: SparkContext) {
  @volatile private var on = false
  val counters = new WorkCounters
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def enable(): Unit = if (!on) { sc.addSparkListener(counters); on = true }

  def disable(): Unit = if (on) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(counters)
    on = false
  }

  def span[T](layer: String, name: String, attrs: (String, String)*)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      val prevGroup = sc.getLocalProperty(JobProps.group)
      val prevDesc = sc.getLocalProperty(JobProps.desc)
      sc.setJobGroup(s"$layer|$id", name)
      current.set(id)
      val start = System.nanoTime()
      try f
      finally {
        val end = System.nanoTime()
        current.set(parent)
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, prevDesc)
        spans.synchronized {
          spans += Span(id, parent, layer, name, start, end, attrs.toMap)
        }
      }
    }

  /** A span reconstructed after the fact (crawl rounds come back from
    * `CrawlResult.rounds` as wall times only). */
  def derived(parentId: Long, layer: String, name: String, startNs: Long,
              endNs: Long, attrs: (String, String)*): Unit = if (on)
    spans.synchronized {
      spans += Span(ids.incrementAndGet(), parentId, layer, name, startNs,
        endNs, attrs.toMap + ("derived" -> "true"))
    }

  def all: Vector[Span] = spans.synchronized(spans.toVector)

  /** The most recently closed span of `layer` named `name`. */
  def last(layer: String, name: String): Option[Span] =
    all.reverseIterator.find(s => s.layer == layer && s.name == name)

  def layerCounters(layer: String): WorkCounters#Acc = {
    PerfbenchBus.drain(sc)
    counters.sum(_.startsWith(layer + "|"))
  }

  /** Calls into `layer`: its spans whose parent is not itself a span of
    * `layer`, so nested calls are counted once. */
  def calls(layer: String): Vector[Span] = {
    val byId = all.map(s => s.id -> s).toMap
    all.filter(s => s.layer == layer &&
      !byId.get(s.parent).exists(_.layer == layer))
  }

  /** Duration minus the part of it covered by child spans. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs),
      math.min(c.endNs, s.endNs))).filter(i => i._2 > i._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs) - covered
  }

  def writeJson(path: java.nio.file.Path, t0Ns: Long): Unit = {
    PerfbenchBus.drain(sc)
    val ss = all
    val kids = ss.groupBy(_.parent)
    val sb = new StringBuilder("{\"spans\": [\n")
    ss.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      val c = counters.sum(_ == s"${s.layer}|${s.id}")
      val fields = Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "start_ms" -> Json.num((s.startNs - t0Ns) / 1e6),
        "end_ms" -> Json.num((s.endNs - t0Ns) / 1e6),
        "self_ms" -> Json.num(selfNs(s, kids.getOrElse(s.id, Nil)) / 1e6),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString,
        "task_run_ms" -> c.runMs.toString,
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "input_bytes" -> c.inputBytes.toString,
        "attrs" -> Json.obj(s.attrs.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))
      sb.append("  ").append(Json.obj(fields))
      sb.append(if (i + 1 < ss.size) ",\n" else "\n")
    }
    sb.append("]}\n")
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Minimal JSON text builders (the output is flat maps and numbers). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
