package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans `{name, start, end, parent, op_id}`, kept in memory and dumped
  * once when the run ends. Times are ms since the tracer was made.
  */
final class Tracer {
  private val t0 = System.nanoTime()
  private val names, opIds = mutable.ArrayBuffer.empty[String]
  private val starts, ends = mutable.ArrayBuffer.empty[Double]
  private val parents = mutable.ArrayBuffer.empty[Int]
  private var stack = List.empty[Int]
  @volatile var on = false

  private def now = (System.nanoTime() - t0) / 1e6

  def span[A](name: String, opId: String = "")(f: => A): A =
    if (!on) f
    else {
      val i = names.length
      names += name; opIds += opId; starts += now; ends += Double.NaN
      parents += stack.headOption.getOrElse(-1)
      stack = i :: stack
      try f finally { ends(i) = now; stack = stack.tail }
    }

  def json: String = names.indices.map { i =>
    s"""{"name":${Json.str(names(i))},"start":${Json.num(starts(i))},""" +
      s""""end":${Json.num(ends(i))},"parent":${parents(i)},""" +
      s""""op_id":${Json.str(opIds(i))}}"""
  }.mkString("[", ",\n", "]")
}

/** Job, stage and task counters, attributed to the op named by the
  * `perfbench.op` local property of the job that ran them.
  */
final class Counters {
  val v = mutable.LinkedHashMap[String, Double](Recorder.counterNames.map(_ -> 0.0): _*)
  def add(k: String, x: Double): Unit = v(k) += x
  def +=(o: Counters): Unit = o.v.foreach { case (k, x) => v(k) += x }
}

/** A `SparkListener` that only stores numbers: jobs, completed stages,
  * tasks and their metrics, summed per op tag.
  */
final class Recorder extends SparkListener {
  private val byOp = mutable.HashMap.empty[String, Counters]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  @volatile private var barrierSeen = -1L
  private val barrierIds = new AtomicLong(0)

  private def tagged(tag: String): Counters =
    byOp.getOrElseUpdate(tag, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("perfbench.barrier")))
      .foreach(b => barrierSeen = b.toLong)
    props.flatMap(p => Option(p.getProperty("perfbench.op"))).foreach { t =>
      tagged(t).add("jobs", 1)
      e.stageIds.foreach(stageOp(_) = t)
      jobStart(e.jobId) = (t, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t, s) =>
      tagged(t).add("job_wall_ms", (e.time - s).toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(tagged(_).add("stages", 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { t =>
      val c = tagged(t)
      c.add("tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        c.add("task_ms", m.executorRunTime.toDouble)
        c.add("task_deser_ms", m.executorDeserializeTime.toDouble)
        c.add("gc_ms", m.jvmGCTime.toDouble)
        c.add("shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        c.add("shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        c.add("spill_mb", m.diskBytesSpilled / 1e6)
        c.add("input_mb", m.inputMetrics.bytesRead / 1e6)
        c.add("output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    }
  }

  /** Runs a marker job and waits until this listener has seen it; every
    * event posted before it on the shared queue has then been handled.
    */
  def barrier(spark: SparkSession): Unit = {
    val id = barrierIds.incrementAndGet()
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.barrier", id.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty("perfbench.barrier", null)
    val deadline = System.nanoTime() + 10_000_000_000L
    while (barrierSeen < id && System.nanoTime() < deadline)
      Thread.sleep(2)
  }

  /** Counters per op tag (a copy). */
  def snapshot: Map[String, Counters] = synchronized {
    byOp.map { case (k, c) => val n = new Counters; n += c; k -> n }.toMap
  }
}

object Recorder {
  val counterNames = Seq("jobs", "stages", "tasks", "task_ms",
    "task_deser_ms", "job_wall_ms", "gc_ms", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "input_mb", "output_mb")
}

/** Catalyst phase times (analysis + optimization + planning) and the
  * number of optimized plans that carry the exact spatial predicate the
  * engine's filter rewrite emits. Runs on the shared listener queue, so
  * [[Recorder.barrier]] also flushes it.
  */
final class PlanRecorder extends QueryExecutionListener {
  @volatile var planMs = 0.0
  @volatile var spatialRewrites = 0L

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized {
    planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val rewritten = qe.optimizedPlan.exists(_.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.GeoFunctions.STContainsExact])))
    if (rewritten) spatialRewrites += 1
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** One executed micro-batch, from its progress event. */
final case class Batch(durationMs: Double, triggerMs: Double,
    addBatchMs: Double, planMs: Double, offsetMs: Double, walMs: Double,
    stateCommitMs: Double, stateRows: Long, stateBytes: Long,
    runId: String)

/** Stores the executed micro-batches from the progress events. */
final class StreamRecorder extends StreamingQueryListener {
  import StreamingQueryListener._
  private val batches = mutable.ArrayBuffer.empty[Batch]
  @volatile private var started, terminated = 0L

  override def onQueryStarted(e: QueryStartedEvent): Unit =
    synchronized { started += 1 }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    synchronized { terminated += 1 }
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    val d = p.durationMs
    def ms(keys: String*) = keys.map(k =>
      if (d.containsKey(k)) d.get(k).toDouble else 0.0).sum
    // idle triggers carry no addBatch: only executed batches are ops
    if (d.containsKey("addBatch")) {
      val st = p.stateOperators
      batches += Batch(p.batchDuration.toDouble, ms("triggerExecution"),
        ms("addBatch"), ms("queryPlanning"), ms("latestOffset", "getBatch"),
        ms("walCommit", "commitOffsets"), st.map(_.commitTimeMs).sum.toDouble,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
        p.runId.toString)
    }
  }

  /** Waits until every query started so far has terminated and its
    * events have arrived, then returns (and forgets) its batches.
    */
  def drain(): Seq[Batch] = {
    val deadline = System.nanoTime() + 10_000_000_000L
    while (synchronized(started != terminated) &&
      System.nanoTime() < deadline) Thread.sleep(2)
    synchronized { val b = batches.toList; batches.clear(); b }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
