package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall clock shared by operation records and listener events: Spark
  * stamps events with `currentTimeMillis`, operations are timed with
  * `nanoTime`; both are mapped onto epoch milliseconds here.
  */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  def now(): Long = System.nanoTime()
  def epochMs(ns: Long): Double = originMs + (ns - originNs) / 1e6
  def seconds(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9
}

/** One timed operation of a workload. Times are `Clock.now()` values;
  * `dueNs` is when an open-loop request was scheduled (= `startNs` for
  * closed-loop operations), `firstActionNs` when the caller started
  * consuming the result.
  */
final case class Op(id: Long, kind: String, name: String, pass: Int,
                    dueNs: Long, startNs: Long, endNs: Long, firstActionNs: Long,
                    ok: Boolean, error: String, digest: String = "",
                    tag: String = "") {
  def latencyS: Double = Clock.seconds(dueNs, endNs)
  def lateS: Double = Clock.seconds(dueNs, startNs)
}

final case class JobRec(id: Int, startMs: Long, tags: Set[String],
                        stageIds: Seq[Int], callSite: String) {
  @volatile var endMs: Long = -1L
  /** `pkg.Class` of the first engine frame on the job's call site. */
  lazy val module: String = Trace.moduleOf(callSite)
}

final case class StageRec(id: Int, submittedMs: Long, completedMs: Long,
                          tasks: Int, cpuNs: Long, inputBytes: Long,
                          shuffleWriteBytes: Long, spillBytes: Long, kind: String) {
  def seconds: Double = (completedMs - submittedMs) / 1e3
}

/** Per-operation profile derived from the listener records. */
final case class OpProfile(jobs: Int, tasks: Int, wallS: Double,
                           driverGapS: Double, planS: Double, cpuS: Double,
                           scanS: Double, exchangeS: Double, cacheWriteS: Double,
                           scanBytes: Double, shuffleBytes: Double,
                           spillBytes: Double, moduleJobS: Map[String, Double])

/** The benchmark's own `SparkListener` and span recorder. Jobs, stages
  * and spans are kept in memory and written out when the run ends.
  */
class Tracer(sc: SparkContext) extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  // persisted RDDs seen so far: the first stage that computes one writes
  // the cache, later stages read it
  private val persistedSeen = ConcurrentHashMap.newKeySet[Int]()

  def attach(): this.type = { sc.addSparkListener(this); this }

  def detach(): Unit = {
    org.apache.spark.sql.perfbench.Internals.drainListenerBus(sc)
    sc.removeSparkListener(this)
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val tags = Option(js.properties)
      .flatMap(p => Option(p.getProperty(org.apache.spark.sql.perfbench.Internals.JobTagsKey)))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty)
    val site = if (js.stageInfos.isEmpty) "" else js.stageInfos.maxBy(_.stageId).details
    jobs.put(js.jobId, JobRec(js.jobId, js.time, tags, js.stageIds, site))
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val i = sc.stageInfo
    for (sub <- i.submissionTime; done <- i.completionTime) {
      val m = i.taskMetrics
      val persisted = i.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      val writesCache = persisted.exists(persistedSeen.add)
      val kind =
        if (writesCache) "cache_write"
        else if (m.inputMetrics.bytesRead > 0 ||
          i.rddInfos.exists(_.scope.exists(_.name.startsWith("Scan ")))) "scan"
        else if (m.shuffleReadMetrics.totalBytesRead > 0) "exchange"
        else "other"
      stages.add(StageRec(i.stageId, sub, done, i.numTasks, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, kind))
    }
  }

  /** Record one span: a named interval at a layer boundary, tied to the
    * operation that caused it.
    */
  def span(name: String, opId: Long, startNs: Long, endNs: Long,
           attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Map("name" -> name, "op" -> opId,
      "start_ms" -> Clock.epochMs(startNs), "end_ms" -> Clock.epochMs(endNs)) ++ attrs)

  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq

  def jobRecords: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  def stageRecords: Seq[StageRec] = stages.asScala.toSeq.sortBy(_.id)

  /** Jobs of `op`: those carrying its tag, plus (for closed-loop
    * operations, where only one runs at a time) jobs launched inside its
    * window from threads the engine owns.
    */
  def jobsOf(op: Op, byWindow: Boolean): Seq[JobRec] = {
    val (lo, hi) = (Clock.epochMs(op.startNs), Clock.epochMs(op.endNs))
    jobRecords.filter { j =>
      (op.tag.nonEmpty && j.tags.contains(op.tag)) ||
        (byWindow && !j.tags.exists(_.startsWith(Trace.TagPrefix + "aux")) &&
          j.startMs >= lo && j.startMs <= hi)
    }
  }

  def profile(op: Op, byWindow: Boolean): OpProfile = {
    val js = jobsOf(op, byWindow)
    val ids = js.flatMap(_.stageIds).toSet
    val st = stageRecords.filter(s => ids.contains(s.id))
    val wall = Clock.seconds(op.startNs, op.endNs)
    val covered = Trace.unionSeconds(st.map(s => (s.submittedMs.toDouble, s.completedMs.toDouble)))
    val actionMs = Clock.epochMs(op.firstActionNs)
    val firstJob = js.map(_.startMs.toDouble).filter(_ >= actionMs - 1).sorted.headOption
    def kindS(k: String) = st.filter(_.kind == k).map(_.seconds).sum
    OpProfile(
      jobs = js.size, tasks = st.map(_.tasks).sum, wallS = wall,
      driverGapS = math.max(0.0, wall - covered),
      planS = firstJob.map(f => math.max(0.0, (f - actionMs) / 1e3)).getOrElse(0.0),
      cpuS = st.map(_.cpuNs).sum / 1e9,
      scanS = kindS("scan"), exchangeS = kindS("exchange"),
      cacheWriteS = kindS("cache_write"),
      scanBytes = st.map(_.inputBytes).sum.toDouble,
      shuffleBytes = st.map(_.shuffleWriteBytes).sum.toDouble,
      spillBytes = st.map(_.spillBytes).sum.toDouble,
      moduleJobS = js.filter(_.endMs >= 0).groupBy(_.module)
        .map { case (m, g) => m -> g.map(j => (j.endMs - j.startMs) / 1e3).sum })
  }

  def dump(path: java.nio.file.Path): Unit = {
    val lines = spanRecords.map(Json(_)) ++
      jobRecords.map(j => Json(Map("job" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tags" -> j.tags.toSeq.sorted,
        "module" -> j.module, "stages" -> j.stageIds))) ++
      stageRecords.map(s => Json(Map("stage" -> s.id, "start_ms" -> s.submittedMs,
        "end_ms" -> s.completedMs, "kind" -> s.kind, "tasks" -> s.tasks,
        "cpu_ns" -> s.cpuNs, "input_bytes" -> s.inputBytes,
        "shuffle_write_bytes" -> s.shuffleWriteBytes, "spill_bytes" -> s.spillBytes)))
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

object Trace {
  val TagPrefix = "perfbench-"

  private val Frame = """^\s*graft\.([a-z]+)\.([A-Za-z0-9_]+)""".r.unanchored

  /** `layer.Class` of the first `graft.` frame of a long call site, or
    * "none" when the job was launched from outside the engine.
    */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.collectFirst {
      case l @ Frame(pkg, cls) if l.trim.startsWith("graft.") => s"$pkg.${cls.stripSuffix("$")}"
    }.getOrElse("none")

  private val GetFrame = """^\s*graft\.serve\.Serve\.[^(]*\b(listFiles|getFile)\b""".r

  /** Whether a job was started under a GET handler (`Serve.listFiles` or
    * `Serve.getFile` on its long call site). A POST's own lookup reaches
    * the same catalog snapshot through `Serve.syncFile` and is not a GET's.
    */
  def isGetReload(callSite: String): Boolean =
    callSite.linesIterator.exists(l => GetFrame.findFirstIn(l).isDefined)

  /** Length in seconds of the union of [start, end] millisecond intervals. */
  def unionSeconds(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total / 1e3
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
