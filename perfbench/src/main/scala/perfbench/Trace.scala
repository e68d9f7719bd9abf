package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Outside-in tracing: spans opened by the benchmark around each call into
  * a layer, a SparkListener that charges jobs, tasks and scans to the span
  * that was open when they started, and a counting local FileSystem.
  *
  * Everything stays in memory; [[Trace.report]] folds it once at the end
  * of a run. With tracing off (`Trace.on == false`) a span is a plain call:
  * no clock reads, no local property, nothing recorded.
  */
object Trace {
  final class Span(val id: Int, val parent: Int, val op: Int, val name: String, val start: Long) {
    var end: Long = 0L
  }

  val SpanProp = "perfbench.span"

  @volatile var on = false
  private var sc: SparkContext = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  /** Attach the listener for one traced pass; [[uninstall]] detaches it,
    * so untraced passes run without it.
    */
  def install(context: SparkContext): Unit = { sc = context; context.addSparkListener(Listener) }
  def uninstall(): Unit = sc.removeSparkListener(Listener)

  /** Time `body` as a span named after the layer call it wraps. Spans
    * nest: the innermost open span owns the Spark jobs its body starts.
    */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = new Span(spans.size, parent.fold(-1)(_.id), parent.fold(spans.size)(_.op), name,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanProp, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Run benchmark bookkeeping (listings, model checks) without charging
    * its filesystem calls to the program.
    */
  def untraced[T](body: => T): T = {
    val was = CountingFs.counting
    CountingFs.counting = false
    try body finally CountingFs.counting = was
  }

  def reset(): Unit = {
    spans.clear(); stack = Nil
    Listener.reset()
    CountingFs.reset()
  }

  // ------------------------------------------------------------ listener

  final class Usage {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var inputBytes = 0L; var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var filesRead = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // wall-clock ms
  }

  object Listener extends SparkListener {
    private val jobSpan = new ConcurrentHashMap[Int, Int]()
    private val jobStart = new ConcurrentHashMap[Int, Long]()
    private val stageSpan = new ConcurrentHashMap[Int, Int]()
    private val execSpan = new ConcurrentHashMap[Long, Int]()
    private val filesAccum = ConcurrentHashMap.newKeySet[Long]()
    private val execFiles = new ConcurrentHashMap[Long, AtomicLong]()
    val usage = new ConcurrentHashMap[Int, Usage]()

    def reset(): Unit = {
      jobSpan.clear(); jobStart.clear(); stageSpan.clear(); execSpan.clear()
      filesAccum.clear(); execFiles.clear(); usage.clear()
    }

    private def of(span: Int): Usage = usage.computeIfAbsent(span, _ => new Usage)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
      sid.foreach { s =>
        val span = s.toInt
        jobSpan.put(e.jobId, span)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execSpan.putIfAbsent(x.toLong, span))
        of(span).synchronized(of(span).jobs += 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { span =>
        val u = of(span)
        u.synchronized(u.jobIntervals += ((jobStart.get(e.jobId), e.time)))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { span =>
        val u = of(span); u.synchronized(u.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { span =>
        val m = e.taskMetrics
        val u = of(span)
        u.synchronized {
          u.tasks += 1
          if (m != null) {
            u.cpuNs += m.executorCpuTime
            u.runMs += m.executorRunTime
            u.gcMs += m.jvmGCTime
            u.inputBytes += m.inputMetrics.bytesRead
            u.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            u.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            u.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }

    /** Scan nodes report "number of files read" as a driver-side metric;
      * its accumulator ids come from the plan info of each execution.
      */
    private def noteScanAccums(info: SparkPlanInfo): Unit = {
      info.metrics.filter(_.name == "number of files read").foreach(m => filesAccum.add(m.accumulatorId))
      info.children.foreach(noteScanAccums)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => noteScanAccums(s.sparkPlanInfo)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => noteScanAccums(a.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        val n = d.accumUpdates.collect { case (id, v) if filesAccum.contains(id) => v }.sum
        if (n > 0) execFiles.computeIfAbsent(d.executionId, _ => new AtomicLong).addAndGet(n)
      case _ =>
    }

    /** Charge scan file counts to spans once every event has arrived. */
    def settleFiles(): Unit =
      execFiles.asScala.foreach { case (exec, n) =>
        Option(execSpan.get(exec)).foreach { span => val u = of(span); u.synchronized(u.filesRead += n.get) }
      }
  }

  // --------------------------------------------------------------- report

  /** Per-span-name totals, plus the spans themselves for the self-time and
    * driver-gap folds. Call after the listener bus has drained.
    */
  final case class Fold(busyS: Map[String, Double], calls: Map[String, Long],
      total: Usage, driverGapS: Double, byName: Map[String, Usage], spans: Int)

  def report(): Fold = {
    Listener.settleFiles()
    val byId = spans.map(s => s.id -> s).toMap
    // every span's usage, charged to itself and each ancestor
    val rolled = mutable.Map.empty[Int, Usage]
    def add(into: Usage, u: Usage): Unit = {
      into.jobs += u.jobs; into.stages += u.stages; into.tasks += u.tasks
      into.cpuNs += u.cpuNs; into.runMs += u.runMs; into.gcMs += u.gcMs
      into.inputBytes += u.inputBytes; into.shuffleWrite += u.shuffleWrite
      into.shuffleRead += u.shuffleRead; into.spill += u.spill
      into.filesRead += u.filesRead; into.jobIntervals ++= u.jobIntervals
    }
    Listener.usage.asScala.foreach { case (id, u) =>
      var cur = byId.get(id)
      while (cur.isDefined) {
        add(rolled.getOrElseUpdate(cur.get.id, new Usage), u)
        cur = byId.get(cur.get.parent)
      }
    }
    val busy = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => (s.end - s.start) / 1e9).sum }
    val calls = spans.groupBy(_.name).map { case (n, ss) => n -> ss.size.toLong }
    val roots = spans.filter(_.parent < 0)
    val total = new Usage
    roots.foreach(r => rolled.get(r.id).foreach(add(total, _)))
    // driver gap: a root span's wall time not covered by any of its jobs
    val gap = roots.map { r =>
      val wall = (r.end - r.start) / 1e9
      val iv = rolled.get(r.id).map(_.jobIntervals.sortBy(_._1)).getOrElse(Nil)
      var covered = 0L; var hi = Long.MinValue
      iv.foreach { case (a, b) =>
        val lo = math.max(a, hi)
        if (b > lo) covered += b - lo
        hi = math.max(hi, b)
      }
      math.max(0.0, wall - covered / 1e3)
    }.sum
    val byName = spans.groupBy(_.name).map { case (n, ss) =>
      val u = new Usage
      ss.foreach(s => Listener.usage.asScala.get(s.id).foreach(add(u, _)))
      n -> u
    }
    Fold(busy, calls, total, gap, byName, spans.size)
  }
}

/** `file:` FileSystem that counts the calls the repo protocols make. It is
  * mounted as `fs.file.impl` only around the traced pass, and counts only
  * while [[CountingFs.counting]] is set; untraced passes use the plain
  * LocalFileSystem.
  */
class CountingFs extends LocalFileSystem {
  import CountingFs.tick
  override def listStatus(f: Path): Array[FileStatus] = { tick("list"); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { tick("status"); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = { tick("open"); super.open(f, bufferSize) }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    tick("create"); super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { tick("rename"); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = { tick("delete"); super.delete(f, recursive) }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = { tick("mkdirs"); super.mkdirs(f, permission) }
}

object CountingFs {
  private val Key = "fs.file.impl"

  /** Make `file:` paths resolve to this class (or, unmounted, to the
    * default LocalFileSystem) from the next FileSystem lookup on: the key is
    * set both on the context's Hadoop conf (read by the library directly)
    * and in the session conf (copied into every query's Hadoop conf), and
    * the FileSystem cache is emptied so no instance of the other class is
    * handed out again.
    */
  def mount(spark: SparkSession): Unit = swap(spark, Some(classOf[CountingFs].getName))
  def unmount(spark: SparkSession): Unit = swap(spark, None)

  private def swap(spark: SparkSession, impl: Option[String]): Unit = {
    val hc = spark.sparkContext.hadoopConfiguration
    impl match {
      case Some(c) => hc.set(Key, c); spark.conf.set(Key, c)
      case None    => hc.unset(Key); spark.conf.unset(Key)
    }
    FileSystem.closeAll()
  }

  @volatile var counting = false
  val Kinds: Seq[String] = Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
  private val n = Kinds.map(_ -> new AtomicLong).toMap
  private[perfbench] def tick(kind: String): Unit = if (counting) n(kind).incrementAndGet()
  def reset(): Unit = n.values.foreach(_.set(0L))
  def counts: Map[String, Long] = n.map { case (k, v) => k -> v.get }
}
