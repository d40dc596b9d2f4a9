package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task and shuffle counters of one layer (span name) or one operation. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  /** executor run time (ms) of every task, by stage — for skew */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over median task run time within the stage with the most total
    * task time (1.0 when there is no stage). */
  def skew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.sum).sorted
      val med = math.max(1L, ts(ts.size / 2))
      ts.last.toDouble / med
    }
}

/**
 * Listener that charges Spark work to the benchmark's spans. Each job
 * carries the `perfbench.layer` / `perfbench.op` local properties that
 * [[Tracer]] set on the submitting thread; every stage of the job, and
 * every task of those stages, is counted under that layer and that
 * operation. Read the counters only after [[drain]].
 */
final class Layers(sc: SparkContext) extends SparkListener {
  private val stageOwner = mutable.Map.empty[Int, (String, String)]
  private val byLayer = mutable.Map.empty[String, Counters]
  private val byOp = mutable.Map.empty[String, Counters]

  private def owned(stageId: Int): Seq[Counters] = synchronized {
    stageOwner.get(stageId).toSeq.flatMap { case (layer, op) =>
      Seq(byLayer.getOrElseUpdate(layer, new Counters)) ++
        Option(op).map(byOp.getOrElseUpdate(_, new Counters))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val layer = props.flatMap(p => Option(p.getProperty(Layers.LayerProp)))
      .getOrElse(Layers.Untraced)
    val op = props.flatMap(p => Option(p.getProperty(Layers.OpProp))).orNull
    e.stageIds.foreach(id => stageOwner(id) = (layer, op))
    byLayer.getOrElseUpdate(layer, new Counters).jobs += 1
    Option(op).foreach(byOp.getOrElseUpdate(_, new Counters).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    owned(e.stageInfo.stageId).foreach(c => synchronized(c.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) owned(e.stageId).foreach { c =>
      synchronized {
        c.tasks += 1
        c.runNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  /** Wait until every event posted so far has been delivered. */
  def drain(): Unit =
    org.apache.spark.sql.graftshim.ListenerShim.drain(sc)

  def layer(name: String): Counters = synchronized(
    byLayer.getOrElse(name, new Counters))

  def op(id: Long): Counters = synchronized(
    byOp.getOrElse(id.toString, new Counters))

  def reset(): Unit = synchronized {
    stageOwner.clear(); byLayer.clear(); byOp.clear()
  }
}

object Layers {
  val LayerProp = "perfbench.layer"
  val OpProp = "perfbench.op"
  val Untraced = "(untraced)"
}
