package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Per-layer accounting for the traced run.
  *
  * The harness tags every Spark job with two local properties: the op
  * index and the layer (`construct`, `plan`, `exec`, or a pipeline
  * stage). A [[SparkListener]] folds each finished task into the
  * (op, layer) it belongs to. The exchanges are counted in each op's
  * final (post-AQE) physical plan.
  * Spans are the harness's own timings around each layer call; they
  * stay in memory and are written out when the run ends. */
object Trace {
  val OpKey = "perfbench.op"
  val LayerKey = "perfbench.layer"

  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L
    var input = 0L; var output = 0L
    /** Per-stage (Σ task ms, max task ms, median task ms), for skew. */
    val stageSkew = mutable.ArrayBuffer[(Long, Long, Long)]()
  }

  final case class Span(op: Int, name: String, parent: String, startNs: Long, endNs: Long)

  final class Listener extends SparkListener {
    private val stageKey = mutable.Map[Int, (String, String)]()
    private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
    val accs = mutable.Map[(String, String), Acc]()

    private def acc(k: (String, String)) = accs.getOrElseUpdate(k, new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val k = (p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("-"),
        p.flatMap(x => Option(x.getProperty(LayerKey))).getOrElse("other"))
      acc(k).jobs += 1
      e.stageIds.foreach(id => stageKey(id) = k)
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      val k = stageKey.getOrElse(id, ("-", "other"))
      acc(k).stages += 1
      stageTaskMs.remove(id).filter(_.size >= 2).foreach { ms =>
        val s = ms.sorted
        acc(k).stageSkew += ((s.sum, s.last, s(s.size / 2)))
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val k = stageKey.getOrElse(e.stageId, ("-", "other"))
      val a = acc(k)
      a.tasks += 1
      val m = e.taskMetrics
      val ms = e.taskInfo.duration
      a.taskMs += ms
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += ms
      if (m != null) {
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    }
  }

  /** (shuffle exchanges, broadcast exchanges) in a final physical plan,
    * descending through adaptive plans, query stages and subqueries. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var shuffles = 0; var broadcasts = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
          p match {
            case _: ShuffleExchangeLike => shuffles += 1
            case _: BroadcastExchangeLike => broadcasts += 1
            case _ =>
          }
          p.children.foreach(walk)
          p.subqueries.foreach(walk)
      }
    }
    walk(plan)
    (shuffles, broadcasts)
  }
}
