package perfbench

import scala.collection.mutable
import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-pass counters for the `plan`, `stage` and `streaming` layers,
  * fed by Spark's public listener interfaces.
  *
  * Listener events arrive asynchronously, so every job is tagged with
  * the pass that launched it (a local property that streaming threads
  * inherit) and tasks are attributed through their stage. [[drain]]
  * runs a marker job and waits for its end event: one listener sees
  * its events in order, so everything posted before has been counted.
  */
final class Trace(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private val PassKey = "perfbench.pass"
  private val DrainPass = -1
  private val sc = spark.sparkContext

  /** Counter name -> pass -> value. */
  val perPass = mutable.Map[String, mutable.Map[Int, Double]]()
  private val stagePass = mutable.Map[Int, Int]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val drainJobs = mutable.Set[Int]()
  private var drained = 0
  @volatile private var lastPass = 0

  private def add(name: String, pass: Int, v: Double): Unit = synchronized {
    if (pass > 0) {
      val m = perPass.getOrElseUpdate(name, mutable.Map())
      m(pass) = m.getOrElse(pass, 0.0) + v
    }
  }

  private var current = 0

  /** Tag every job launched from here on with `pass` (0: not counted). */
  def begin(pass: Int): Unit = {
    current = pass
    sc.setLocalProperty(PassKey, pass.toString)
  }

  def pass: Int = current

  /** Codegen counters are process-global; sample them around a pass. */
  def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def addCodegen(pass: Int, before: (Long, Long)): Unit = {
    val after = codegen()
    add("plan.codegen_compiles", pass, (after._1 - before._1).toDouble)
    add("plan.codegen_compile_s", pass, (after._2 - before._2) / 1e9)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val pass = Option(e.properties).flatMap(p => Option(p.getProperty(PassKey)))
      .map(_.toInt).getOrElse(0)
    synchronized {
      e.stageIds.foreach(stagePass(_) = pass)
      if (pass == DrainPass) drainJobs += e.jobId
    }
    if (pass != DrainPass) lastPass = pass
    add("stage.jobs", pass, 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (drainJobs.contains(e.jobId)) drained += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val pass = synchronized(stagePass.getOrElse(e.stageId, 0))
    add("stage.tasks", pass, 1)
    if (e.reason != Success) add("stage.failed_tasks", pass, 1)
    val m = e.taskMetrics
    if (m != null) {
      add("stage.task_busy_s", pass, m.executorRunTime / 1e3)
      add("stage.shuffle_write_bytes", pass, m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("stage.shuffle_read_bytes", pass, m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("stage.spill_bytes", pass, m.diskBytesSpilled.toDouble)
    }
    synchronized {
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** Task skew of a stage: its slowest task over its median task. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val (pass, ms) = synchronized {
      (stagePass.getOrElse(id, 0), stageTaskMs.remove(id).map(_.sorted).getOrElse(Nil))
    }
    if (ms.size >= 2) {
      add("stage.multi_task_stages", pass, 1)
      add("stage.task_skew_sum", pass, ms.last.toDouble / math.max(1L, ms(ms.size / 2)))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val pass = lastPass
    val ms = Seq(QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    add("plan.optimize_s", pass, ms / 1e3)
    add("plan.queries", pass, 1)
    add("plan.nodes", pass, collectWithSubqueries(qe.executedPlan) { case p => p }.size.toDouble)
    add("plan.exchanges", pass,
      collectWithSubqueries(qe.executedPlan) { case x: Exchange => x }.size.toDouble)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Progress of every streaming micro-batch, in arrival order. */
  val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private var terminated = 0

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized(progress += e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Trace.this.synchronized(terminated += 1)
  }

  private def await(done: => Boolean): Unit = {
    val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
    while (!synchronized(done)) {
      require(System.nanoTime < deadline, "listener events did not arrive within 60 s")
      Thread.sleep(2)
    }
  }

  /** Number of streaming queries that have terminated so far. */
  def terminatedCount: Int = synchronized(terminated)

  /** Block until `n` streaming queries have terminated; a query's
    * terminated event follows all of its progress events.
    */
  def awaitTerminated(n: Int): Unit = await(terminated >= n)

  /** Wait until this listener has seen every event posted so far. */
  def drain(): Unit = {
    val target = synchronized(drained) + 1
    val prev = sc.getLocalProperty(PassKey)
    sc.setLocalProperty(PassKey, DrainPass.toString)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(PassKey, prev)
    await(drained >= target)
  }
}

object Trace {
  /** Listen for streaming progress (op latencies of micro-batches) and,
    * when `layers`, on the job/task and query-execution interfaces too.
    */
  def attach(spark: SparkSession, layers: Boolean): Trace = {
    val t = new Trace(spark)
    spark.streams.addListener(t.streaming)
    if (layers) {
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    t
  }
}
