package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.BenchShim
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One time base for the harness's own spans (monotonic nanoTime) and
  * Spark's event times (epoch milliseconds): milliseconds since start.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = (System.nanoTime() - nano0) / 1e6
  def fromEpochMs(ms: Long): Double = (ms - epoch0).toDouble
}

/** A timed interval of one request. Parents are assigned afterwards by
  * containment (the innermost enclosing span of the same request), so
  * spans reported by Spark's listeners need no parent at record time.
  */
final case class Span(name: String, request: Int, startMs: Double, endMs: Double)

/** Largest post-GC heap occupancy at request boundaries, from the
  * JVM's GC notifications. The harness forces a full collection after
  * every request, outside its timing, and only those collections count:
  * the occupancy after a young collection depends on when it happened
  * to run (it moved by a fifth between runs of one input), while the
  * heap after a full collection is the request's retained data.
  */
object HeapMonitor {
  @volatile private var peakBytes = 0L
  private val forced = new java.util.concurrent.atomic.AtomicLong()
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case emitter: NotificationEmitter =>
      emitter.addNotificationListener(new NotificationListener {
        def handleNotification(n: Notification, handback: Any): Unit =
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            if (info.getGcCause == "System.gc()") {
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              HeapMonitor.synchronized { if (used > peakBytes) peakBytes = used }
              forced.incrementAndGet()
            }
          }
      }, null, null)
    case _ => ()
  }

  /** Full collection at a request boundary; returns once the
    * notification above has recorded it (notifications are delivered
    * on their own thread), or after two seconds.
    */
  def collect(): Unit = {
    val n0 = forced.get()
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (forced.get() == n0 && System.nanoTime() < deadline) Thread.sleep(1)
  }

  def peakMb: Double = peakBytes / (1024.0 * 1024.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0
}

/** The traced run's recorder: a SparkListener for jobs, stages and
  * tasks plus a QueryExecutionListener for Catalyst phases and plan
  * shape. Events are attributed to the request whose job group they
  * carry, or else to the request in flight; the harness drains the
  * listener bus at the end of every request, so no event crosses into
  * the next one. Everything stays in memory until the run ends.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  @volatile var request: Int = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val stageRequest = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]

  def add(name: String, v: Double): Unit = synchronized {
    counts(name) = counts.getOrElse(name, 0.0) + v
  }
  def span(s: Span): Unit = synchronized { spans += s }
  def snapshot: Map[String, Double] = synchronized { counts.toMap }

  def drain(): Unit = BenchShim.drainListenerBus(spark.sparkContext)

  private def requestOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toInt)
      .getOrElse(request)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val r = requestOf(e.properties)
    jobStart(e.jobId) = (r, e.time)
    e.stageIds.foreach(stageRequest(_) = r)
    if (r >= 0) add("exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (r, t0) =>
      if (r >= 0) span(Span("exec.job", r, Clock.fromEpochMs(t0), Clock.fromEpochMs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    if (stageRequest.getOrElse(e.stageInfo.stageId, request) >= 0) add("exec.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (stageRequest.getOrElse(e.stageId, request) >= 0 && m != null) {
      add("exec.tasks", 1)
      add("exec.task_s", m.executorRunTime / 1000.0)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
      add("Tables.bytes_read", m.inputMetrics.bytesRead.toDouble)
      add("Tables.rows_read", m.inputMetrics.recordsRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val r = request
    if (r >= 0) {
      qe.tracker.phases.foreach { case (phase, s) =>
        if (phase != "parsing") phaseSpan(phase, r, s.startTimeMs, s.endTimeMs)
      }
      val plan = qe.executedPlan
      def n(p: PartialFunction[SparkPlan, Unit]): Int = collectWithSubqueries(plan)(p).size
      add("catalyst.exchanges", n { case _: ShuffleExchangeLike => })
      add("catalyst.broadcasts", n { case _: BroadcastExchangeLike => })
      add("catalyst.scans", n { case _: DataSourceScanExec | _: BatchScanExec => })
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def phaseSpan(phase: String, r: Int, startEpochMs: Long, endEpochMs: Long): Unit = {
    span(Span(s"catalyst.$phase", r, Clock.fromEpochMs(startEpochMs), Clock.fromEpochMs(endEpochMs)))
    add(s"catalyst.${phase}_s", (endEpochMs - startEpochMs) / 1000.0)
  }
}

object Tracer {
  val GroupPrefix = "perfbench-"

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

/** Process-wide codegen counters, read before and after each request. */
object Codegen {
  def compileSeconds: Double = CodeGenerator.compileTime / 1e9
  def classes: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
