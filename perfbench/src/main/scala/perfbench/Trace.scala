package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call into a layer: `parent` is the enclosing span's id (-1 at the
  * top), `op` the id of the timed operation it belongs to (-1 outside
  * one). Times are epoch milliseconds, the clock Spark stamps jobs with. */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
}

/** Counters of one Spark job, accumulated from its task-end events. */
final class JobRec(val group: String, val startMs: Double) {
  var endMs: Double = Double.NaN
  var tasks = 0L
  var taskMs = 0.0
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var input = 0L
  var output = 0L
}

/** What one span's own Spark jobs did (jobs of child spans excluded);
  * `gapShare` is the share of the span's wall time with none of them
  * running. */
final case class SpanCost(span: Span, selfMs: Double, jobs: Int,
    tasks: Long, taskMs: Double, gapShare: Double, shuffleRead: Long,
    shuffleWrite: Long, input: Long, output: Long)

/** Spans around every call the benchmark makes into an engine layer, kept
  * in memory until the run ends.
  *
  * Span times are always recorded (two clock reads per call). With
  * `attribute` on — the traced run — each span also sets a Spark job group
  * on the calling thread, and a listener charges every job and task to
  * the group it was submitted under. Threads the engine starts inside a
  * call (`core.Par`) inherit the group, so overlapping jobs land on the
  * right span, and a span's busy time is the union of its jobs'
  * intervals: overlapping jobs count once and the gap never goes below 0.
  *
  * The RDD block listener runs in every run: it gives the peak storage
  * held by persisted and checkpointed blocks. */
final class Tracer(spark: SparkSession, val attribute: Boolean) {
  private val sc = spark.sparkContext
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val spanBuf = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var currentOp = -1

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val blocks = new ConcurrentHashMap[String, Long]()
  @volatile private var blockBytes = 0L
  @volatile private var peakBlockBytes = 0L

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private def group(id: Int) = s"perfbench-span-$id"

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (attribute) {
        val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
        jobs.put(e.jobId, new JobRec(g, e.time.toDouble))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (attribute) Option(stageJob.get(e.stageId))
          .flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.input += m.inputMetrics.bytesRead
          j.output += m.outputMetrics.bytesWritten
        }
      }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) synchronized {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = if (info.storageLevel.isValid)
          info.memSize + info.diskSize else 0L
        val before = Option(blocks.put(key, size)).getOrElse(0L)
        blockBytes += size - before
        peakBlockBytes = math.max(peakBlockBytes, blockBytes)
      }
    }
  })

  /** Run `body` as span `name`, the child of the innermost open span. */
  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val prevGroup = sc.getLocalProperty(GroupKey)
    val prevDesc = sc.getLocalProperty(DescKey)
    if (attribute) sc.setJobGroup(group(id), name)
    stack = id :: stack
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack = stack.tail
      if (attribute) {
        sc.setLocalProperty(GroupKey, prevGroup)
        sc.setLocalProperty(DescKey, prevDesc)
      }
      spanBuf.synchronized {
        spanBuf += Span(id, name, parent, currentOp, start, end)
      }
    }
  }

  /** A timed operation: the root span `op` of everything it calls. */
  def op[A](opId: Int)(body: => A): A = {
    currentOp = opId
    try span("op")(body) finally currentOp = -1
  }

  def spans: Seq[Span] = spanBuf.synchronized(spanBuf.toList)

  /** Peak bytes held by RDD blocks (persist / checkpoint) so far. */
  def peakBlockMb: Double = {
    org.apache.spark.perfbench.Bus.drain(sc)
    peakBlockBytes / 1e6
  }

  /** Jobs submitted outside any span: 0 when every call into the engine
    * ran inside one. */
  def unattributedJobs: Int = {
    org.apache.spark.perfbench.Bus.drain(sc)
    jobs.values.asScala.count(j => j.group == null ||
      !j.group.startsWith("perfbench-span-"))
  }

  /** Per-span costs; drains the listener bus first so every job and task
    * event of the finished spans has been counted. */
  def costs(): Seq[SpanCost] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val all = spans
    val byGroup = jobs.values.asScala.toSeq.filter(_.group != null)
      .groupBy(_.group)
    val children = all.groupBy(_.parent)
    all.map { s =>
      val js = byGroup.getOrElse(group(s.id), Nil)
      val kids = children.getOrElse(s.id, Nil)
      val childMs = Stats.unionLength(kids.map(k => (k.startMs, k.endMs)),
        s.startMs, s.endMs)
      val gap = Stats.gapShare(js.map { j =>
        (j.startMs, if (j.endMs.isNaN) s.endMs else j.endMs)
      }, s.startMs, s.endMs)
      SpanCost(s, s.wallMs - childMs, js.size, js.map(_.tasks).sum,
        js.map(_.taskMs).sum, gap, js.map(_.shuffleRead).sum,
        js.map(_.shuffleWrite).sum, js.map(_.input).sum,
        js.map(_.output).sum)
    }
  }
}
