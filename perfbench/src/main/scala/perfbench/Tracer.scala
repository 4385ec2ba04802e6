package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Outside-in tracer. The benchmark wraps each public engine call it makes
  * in a [[span]] (name, start, end, parent, op id); Spark's own work is
  * attributed to ops through a benchmark-owned [[SparkListener]]:
  *
  *  - a call the benchmark makes runs under the local property
  *    `perfbench.op`, which every job it submits carries;
  *  - a streaming micro-batch job carries Spark's `streaming.sql.batchId`
  *    and query id, which map to the op `<query id>#<batch id>`.
  *
  * Per op it counts jobs, stages and tasks, and sums task run time,
  * shuffle bytes written and input rows read. A [[StreamingQueryListener]]
  * turns every micro-batch's progress into a span. Everything stays in memory until
  * [[finish]] writes the spans out. With tracing off, [[span]] runs its
  * body directly and no listener is installed.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageRan = ConcurrentHashMap.newKeySet[Int]()
  val ops = new ConcurrentHashMap[String, OpStats]()
  private val listenerNanos = new AtomicLong(0)

  private def stats(op: String): OpStats = ops.computeIfAbsent(op, _ => new OpStats)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")).map { b =>
        s"${Option(p.getProperty("sql.streaming.queryId")).getOrElse("?")}#$b"
      }).orElse(props.flatMap(p => Option(p.getProperty(OpProperty)))).getOrElse("none")
      stats(op).jobs.incrementAndGet()
      e.stageIds.foreach(id => stageOp.put(id, op))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
      val id = e.stageInfo.stageId
      if (stageRan.add(id)) stats(stageOp.getOrDefault(id, "none")).stages.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val st = stats(stageOp.getOrDefault(e.stageId, "none"))
      st.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        st.taskRunMs.addAndGet(m.executorRunTime)
        st.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        st.inputRows.addAndGet(m.inputMetrics.recordsRead)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timed {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli - wall0
      val total = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      spans.add(Span(ids.incrementAndGet(), "microbatch", start.toDouble, (start + total).toDouble, 0L,
        s"${p.id}#${p.batchId}"))
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  private def timed(body: => Unit): Unit = {
    val a = System.nanoTime()
    body
    listenerNanos.addAndGet(System.nanoTime() - a)
    ()
  }

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Run `body` as span `name` of op `op`, its parent the enclosing span
    * of this thread; Spark jobs it submits are attributed to `op`.
    */
  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val prevOp = sc.getLocalProperty(OpProperty)
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      sc.setLocalProperty(OpProperty, op)
      val start = nowMs
      try body
      finally {
        spans.add(Span(id, name, start, nowMs, parent, op))
        stack.set(stack.get().tail)
        sc.setLocalProperty(OpProperty, prevOp)
      }
    }

  def spanCount: Int = spans.size

  /** Ops whose name starts with `prefix`, e.g. all batches of one query. */
  def opsWithPrefix(prefix: String): Seq[OpStats] =
    ops.asScala.collect { case (k, v) if k.startsWith(prefix) => v }.toSeq

  /** Wait for the listener bus to deliver what has been posted so far. */
  def settle(): Unit = if (enabled) {
    var last = -1L
    var same = 0
    while (same < 3) {
      Thread.sleep(100)
      val n = ops.values.asScala.map(_.tasks.get).sum
      if (n == last) same += 1 else { same = 0; last = n }
    }
  }

  /** Write the spans (JSON lines) and return the time the listeners spent
    * inside their callbacks, in ms.
    */
  def finish(out: File): Double = {
    if (enabled) {
      val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
        s"{\"id\": ${s.id}, \"name\": ${Json.str(s.name)}, \"op\": ${Json.str(s.op)}, " +
          s"\"parent\": ${s.parent}, \"start_ms\": ${Json.num(s.start)}, \"end_ms\": ${Json.num(s.end)}}"
      }
      Files.write(out.toPath, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    listenerNanos.get / 1e6
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  final case class Span(id: Long, name: String, start: Double, end: Double, parent: Long, op: String)

  final class OpStats {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val taskRunMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val inputRows = new AtomicLong
  }

  /** Mean of one counter over a set of ops. */
  def perOp(ops: Seq[OpStats])(f: OpStats => Long): Double =
    if (ops.isEmpty) 0.0 else ops.map(o => f(o).toDouble).sum / ops.size
}
