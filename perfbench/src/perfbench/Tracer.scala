package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, LocatedFileStatus, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's collector. Every timed call is a span (kind, the
  * round it belongs to — all spans of one tick share that id — its wall
  * interval and the Hadoop FileSystem counters around it). A
  * SparkListener attributes each Spark job, and each finished task's
  * metrics, to the span that submitted it through a job-local property
  * (inherited by the stream and broadcast threads the call starts).
  * Everything stays in memory until [[summary]] at the end of the run. */
final class Tracer(sc: SparkContext) extends SparkListener with Probe {

  final class Span(val kind: String, val round: Int) {
    var t0 = 0L
    var t1 = 0L
    var fs0: Map[String, Long] = Map.empty
    var fs1: Map[String, Long] = Map.empty
  }

  final class Job(val span: Int, val start: Long, val module: String) {
    var end = 0L
    var tasks = 0
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val spans = ArrayBuffer.empty[Span]
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sqlSites = mutable.Map.empty[Long, String]
  private val SqlExecutionKey = "spark.sql.execution.id"

  def begin(kind: String, round: Int): Unit = {
    val s = new Span(kind, round)
    spans += s
    s.fs0 = Tracer.fsCounters()
    sc.setLocalProperty(Tracer.SpanKey, spans.size.toString)
    s.t0 = System.currentTimeMillis()
  }

  def end(kind: String, round: Int): Unit = {
    val s = spans.last
    s.t1 = System.currentTimeMillis()
    sc.setLocalProperty(Tracer.SpanKey, null)
    s.fs1 = Tracer.fsCounters()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    // a SQL query's jobs (AQE stages run from a thread pool) carry the
    // call site of the action that started the query
    val module = Option(e.properties).flatMap(p => Option(p.getProperty(SqlExecutionKey)))
      .flatMap(id => sqlSites.get(id.toLong))
      .getOrElse(Tracer.module(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name))
    jobs(e.jobId) = new Job(span, e.time, module)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      // the innermost program frame of the query's call stack; a query
      // started inside a stream batch carries the batch description, not
      // a call site, so the stack is the reliable record
      synchronized(sqlSites(s.executionId) =
        Tracer.moduleOfStack(s.details).getOrElse(Tracer.module(s.description)))
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }

  /** Wall ms of `s` during which no job of it was running. */
  private def driverMs(s: Span, js: Seq[Job]): Double = {
    val iv = js.map(j => (math.max(j.start, s.t0), math.min(if (j.end > 0) j.end else s.t1, s.t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    (s.t1 - s.t0 - covered).toDouble
  }

  /** Per-operation means of every counter, keyed `<op>.<metric>` and
    * `<op>.<metric>.<Module>`. */
  def summary(kinds: Seq[String], moduleKinds: Seq[String]): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val MB = 1024.0 * 1024.0
    val byIdx = spans.zipWithIndex.map { case (s, i) => s -> (i + 1) }
    val jobsBySpan = synchronized(jobs.values.toSeq).groupBy(_.span)
    kinds.flatMap { k =>
      val ss = byIdx.filter(_._1.kind == k)
      val n = math.max(1, ss.size).toDouble
      def mean(f: (Span, Seq[Job]) => Double): Double =
        ss.map { case (s, i) => f(s, jobsBySpan.getOrElse(i, Nil)) }.sum / n
      def fs(key: String)(s: Span): Double =
        (s.fs1.getOrElse(key, 0L) - s.fs0.getOrElse(key, 0L)).toDouble
      val base = Seq(
        "jobs" -> mean((_, js) => js.size),
        "tasks" -> mean((_, js) => js.map(_.tasks).sum),
        "driver_ms" -> mean(driverMs),
        "exec_cpu_ms" -> mean((_, js) => js.map(_.cpuNs).sum / 1e6),
        "gc_ms" -> mean((_, js) => js.map(_.gcMs).sum),
        "shuffle_mb" -> mean((_, js) => js.map(_.shuffleBytes).sum / MB),
        "spill_mb" -> mean((_, js) => js.map(_.spillBytes).sum / MB),
        "fs_read_mb" -> mean((s, _) => fs("bytesRead")(s) / MB),
        "fs_read_ops" -> mean((s, _) => fs("openOps")(s)),
        "fs_write_mb" -> mean((s, _) => fs("bytesWritten")(s) / MB),
        "fs_write_ops" -> mean((s, _) => fs("createOps")(s)),
        "fs_list_ops" -> mean((s, _) => fs("listOps")(s)))
      val perModule =
        if (!moduleKinds.contains(k)) Nil
        else Tracer.Modules.flatMap { m =>
          Seq(s"jobs.$m" -> mean((_, js) => js.count(_.module == m))) ++
            (if (k == "tick")
              Seq(s"exec_cpu_ms.$m" -> mean((_, js) =>
                js.filter(_.module == m).map(_.cpuNs).sum / 1e6))
            else Nil)
        }
      (base ++ perModule).map { case (name, v) => s"$k.$name" -> v }
    }.toMap
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** The program's modules a Spark job can be attributed to, by the
    * source file of its call site; anything else is `Other` (the
    * benchmark's own reads and checks land there). */
  val Modules: Seq[String] = Seq("Pipeline", "Watermark", "BucketedSink",
    "ChangeFeed", "BucketedLog", "IncrementalEtlStream", "FlatObs",
    "FlatOrders", "FlatLabObs", "FlatVisitSummary", "FlatLatestHivSummary",
    "Other")

  private val SiteFile = """ at ([A-Za-z0-9_$]+)\.scala:""".r
  private val StackFile = """\(([A-Za-z0-9_$]+)\.scala:\d+\)""".r

  /** Module of a short call site (`collect at Pipeline.scala:235`). */
  def module(callSite: String): String =
    SiteFile.findFirstMatchIn(callSite).map(_.group(1))
      .filter(m => Modules.contains(m)).getOrElse("Other")

  /** Module of the innermost program frame in a call stack. */
  def moduleOfStack(stack: String): Option[String] =
    StackFile.findAllMatchIn(Option(stack).getOrElse("")).map(_.group(1))
      .find(m => Modules.contains(m) && m != "Other")

  /** Hadoop's own byte counters for the local file system plus the
    * operation counts kept by [[CountingLocalFileSystem]]. */
  def fsCounters(): Map[String, Long] = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    val builtIn =
      if (st == null) Map.empty[String, Long]
      else {
        val it = st.getLongStatistics
        val b = Map.newBuilder[String, Long]
        while (it.hasNext) { val s = it.next(); b += s.getName -> s.getValue }
        b.result()
      }
    builtIn ++ Map(
      "listOps" -> CountingLocalFileSystem.listOps.get(),
      "openOps" -> CountingLocalFileSystem.readOps.get(),
      "createOps" -> CountingLocalFileSystem.writeOps.get())
  }
}

/** The local file system with counts of file opens, file creates and
  * directory listings (Hadoop's own statistics count bytes but no
  * operations on the local file system), installed for the traced run
  * only through `spark.hadoop.fs.file.impl`. */
class CountingLocalFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFileSystem.readOps.incrementAndGet()
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    CountingLocalFileSystem.writeOps.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    CountingLocalFileSystem.listOps.incrementAndGet()
    super.listStatus(f)
  }
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] = {
    CountingLocalFileSystem.listOps.incrementAndGet()
    super.listLocatedStatus(f)
  }
}

object CountingLocalFileSystem {
  val listOps = new java.util.concurrent.atomic.AtomicLong(0L)
  val readOps = new java.util.concurrent.atomic.AtomicLong(0L)
  val writeOps = new java.util.concurrent.atomic.AtomicLong(0L)
}
