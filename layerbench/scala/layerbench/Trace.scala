package layerbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval around a call into a layer. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def json: String =
    s"""{"id":$id,"name":"$name","parent":$parent,"run":"$runId","start_ns":$startNs,"end_ns":$endNs}"""
}

/** Spans of one benchmark run, kept in memory and written out at the end.
  * Spans nest by call order on the calling thread; `parent` is -1 at the
  * top. When tracing is off, `span` only runs its body. */
final class Tracer(val runId: String, val enabled: Boolean) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, name, parent, runId, t0, System.nanoTime())
        open = open.tail
      }
    }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, spans.map(_.json).mkString("", "\n", "\n"))
  }
}

/** Spark task metrics summed per benchmark operation. The benchmark tags
  * each operation with the local property [[TaskLedger.OpKey]]; jobs and
  * stages inherit it (broadcast jobs too), and each task is charged to the
  * operation of its stage. */
final class TaskLedger extends SparkListener {
  import TaskLedger._

  private val stageOp = mutable.HashMap.empty[Int, String]
  private val ops = mutable.HashMap.empty[String, OpMetrics]
  private val taskSeconds = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Double]]

  private def of(op: String): OpMetrics = ops.getOrElseUpdate(op, new OpMetrics)

  private def opOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(OpKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      of(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    opOf(e.properties).foreach(stageOp(e.stageInfo.stageId) = _)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageOp.get(e.stageId).foreach { op =>
      val o = of(op)
      o.tasks += 1
      taskSeconds.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration / 1e3
      if (m != null) {
        o.runS += m.executorRunTime / 1e3
        o.cpuS += m.executorCpuTime / 1e9
        o.gcS += m.jvmGCTime / 1e3
        o.outputBytes += m.outputMetrics.bytesWritten
        o.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        o.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Metrics of every operation whose tag satisfies `p`, summed. */
  def sum(p: String => Boolean): OpMetrics = synchronized {
    ops.collect { case (k, v) if p(k) => v }.foldLeft(new OpMetrics)(_ merge _)
  }

  /** Task durations per stage of the operations whose tag satisfies `p`. */
  def stageTaskSeconds(p: String => Boolean): Seq[Seq[Double]] = synchronized {
    taskSeconds.collect { case (st, ts) if stageOp.get(st).exists(p) => ts.toSeq }.toSeq
  }
}

object TaskLedger {
  val OpKey = "layerbench.op"

  final class OpMetrics {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runS = 0.0; var cpuS = 0.0; var gcS = 0.0
    var outputBytes = 0L
    var shuffleBytes = 0L; var spillBytes = 0L
    def merge(o: OpMetrics): OpMetrics = {
      val r = new OpMetrics
      r.jobs = jobs + o.jobs; r.stages = stages + o.stages; r.tasks = tasks + o.tasks
      r.runS = runS + o.runS; r.cpuS = cpuS + o.cpuS; r.gcS = gcS + o.gcS
      r.outputBytes = outputBytes + o.outputBytes
      r.shuffleBytes = shuffleBytes + o.shuffleBytes; r.spillBytes = spillBytes + o.spillBytes
      r
    }
  }

  /** Run `body` with its Spark jobs charged to operation `op`. */
  def tagged[A](sc: SparkContext, op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try body finally sc.setLocalProperty(OpKey, prev)
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(sc: SparkContext): Unit = org.apache.spark.LayerbenchBridge.drain(sc)
}
