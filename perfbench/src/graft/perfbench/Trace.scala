package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Wall clock in epoch milliseconds at nanosecond resolution: the same
  * time base as Spark's listener events, precise enough for spans. */
object Clock {
  private val baseWall = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  def ms(): Double = baseWall + (System.nanoTime() - baseNano) / 1e6
  def secondsSince(startMs: Double): Double = (ms() - startMs) / 1000.0
}

/** Every Spark job, stage and task of the run, from a listener the
  * benchmark registers itself. */
final class JobLog extends SparkListener {
  final case class Job(id: Int, start: Double, desc: String, span: Int) {
    @volatile var end: Double = Double.NaN
  }
  val jobs = new ConcurrentLinkedQueue[Job]()
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val j = Job(e.jobId, e.time.toDouble,
      props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""),
      props.flatMap(p => Option(p.getProperty(Spans.Property))).map(_.toInt).getOrElse(-1))
    byId.put(e.jobId, j)
    jobs.add(j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.get(e.jobId)).foreach(_.end = e.time.toDouble)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def counters(): Map[String, Double] = Map(
    "stages" -> stages.get.toDouble, "tasks" -> tasks.get.toDouble,
    "task_ms" -> taskMs.get.toDouble, "write_bytes" -> shuffleWrite.get.toDouble,
    "read_bytes" -> shuffleRead.get.toDouble, "spill_bytes" -> spill.get.toDouble)

  def jobsBetween(from: Double, to: Double): Seq[Job] =
    jobs.asScala.filter(j => j.start >= from && j.start <= to).toSeq
}

/** The progress of every streaming micro-batch, from a listener the
  * benchmark registers itself. */
final class StreamLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    progress.add(e.progress); ()
  }
  /** Batches that read input, in commit order. */
  def dataBatches: Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.numInputRows > 0).toSeq
}

object StreamLog {
  def commitMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
      Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
  def duration(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)
}

/** Driver JVM: GC time and two heap high-water marks, both of heap still
  * in use after a full collection, so they follow the live data and not
  * the heap size (after a young collection the old generation still holds
  * garbage, as much as the heap leaves room for): the peak at quiet
  * points between phases, where [[settle]] forces full collections
  * outside every timed region, and the peak over every full collection,
  * which adds those the program forces inside a phase. */
object Jvm {
  private val MB = 1024.0 * 1024.0
  private val peakSettled = new AtomicLong(0L)
  private val peakAfterGc = new AtomicLong(0L)

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  /** From now on, record the heap in use after every full collection. */
  def watchCollections(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        if (info.getGcAction == "end of major GC") {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakAfterGc.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
      }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }

  /** Peak heap in use after a full collection, since [[watchCollections]]. */
  def afterGcPeakMb(): Double = peakAfterGc.get / MB

  /** Full collection, then record the heap still in use. Two collections
    * with a pause between: the first lets Spark's context cleaner see and
    * drop the blocks of DataFrames nothing references any more, the second
    * frees what it dropped. Then a second's pause, so the file deletions
    * the cleaner queued finish before the next timed region instead of
    * inside it (without it, `ingest`'s compaction ranged 1.2-2.6 s over
    * five seeds on four cores). */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakSettled.accumulateAndGet(used, (a, b) => math.max(a, b))
    Thread.sleep(1000)
  }

  /** Peak heap in use at the [[settle]] points. */
  def settledPeakMb(): Double = peakSettled.get / MB
}

/** Nested timing spans (workload → batch → call → Spark job), kept in
  * memory and written out when the run ends. A call span tags the Spark
  * jobs it starts through a thread-local property, which threads it spawns
  * inherit, so every job lands under the call that caused it. */
final class Spans(val enabled: Boolean, sc: => SparkContext) {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        batch: Int, start: Double, end: Double)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[(Int, Int)]](() => Nil)

  def apply[A](kind: String, name: String, batch: Int = -2)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.map(_._1).getOrElse(0)
      val b = if (batch != -2) batch else outer.headOption.map(_._2).getOrElse(-1)
      val prevProp = sc.getLocalProperty(Spans.Property)
      stack.set((id, b) :: outer)
      sc.setLocalProperty(Spans.Property, id.toString)
      val start = Clock.ms()
      try f finally {
        done.add(Span(id, parent, kind, name, b, start, Clock.ms()))
        sc.setLocalProperty(Spans.Property, prevProp)
        stack.set(outer)
      }
    }

  /** All spans plus one per Spark job, each with its self time (its
    * duration less the time covered by its children), as JSON lines. */
  def render(jobs: Seq[JobLog#Job]): Seq[String] = {
    val calls = done.asScala.toSeq
    val byId = calls.map(s => s.id -> s).toMap
    val jobSpans = jobs.filter(j => !j.end.isNaN).map { j =>
      val parent = if (byId.contains(j.span)) j.span else 0
      Span(-j.id - 1, parent, "job", s"job ${j.id} ${j.desc.replaceAll("\\s+", " ")}".trim,
        byId.get(parent).map(_.batch).getOrElse(-1), j.start, j.end)
    }
    val all = calls ++ jobSpans
    val children = all.groupBy(_.parent)
    val t0 = if (all.isEmpty) 0.0 else all.map(_.start).min
    all.sortBy(s => (s.start, s.id)).map { s =>
      val covered = Stats.covered(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
      val dur = s.end - s.start
      Json.obj(Seq("id" -> Json.num(s.id.toDouble), "parent" -> Json.num(s.parent.toDouble),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name), "batch" -> Json.num(s.batch.toDouble),
        "start_ms" -> Json.num(s.start - t0), "dur_ms" -> Json.num(dur),
        "self_ms" -> Json.num(math.max(0.0, dur - covered))))
    }
  }
}

object Spans {
  val Property = "perfbench.span"
}

/** Per-batch layer counters: a snapshot before the batch, the deltas
  * after it (jobs, stages, tasks, driver gap, busy share, shuffle, fs),
  * and the slowest labelled orchestrator leg of each phase. Only used in
  * traced runs. */
final class LayerMeter(sc: SparkContext, val jobs: JobLog, cores: Int) {
  final case class Mark(at: Double, spark: Map[String, Double], fs: Map[String, Double])

  def mark(): Mark = Mark(Clock.ms(), jobs.counters(), FileOps.snapshot())

  def since(m: Mark): Map[String, Double] = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    val end = Clock.ms()
    val sp = jobs.counters()
    val fs = FileOps.snapshot()
    val wallMs = end - m.at
    val js = jobs.jobsBetween(m.at, end)
    val covered = Stats.covered(js.map(j => (j.start, if (j.end.isNaN) end else j.end)), m.at, end)
    val d = (k: String) => sp(k) - m.spark(k)
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> d("stages"),
      "spark.tasks" -> d("tasks"),
      "spark.driver_gap_s" -> (wallMs - covered) / 1000.0,
      "spark.busy_share" -> (if (wallMs > 0) d("task_ms") / (wallMs * cores) else 0.0),
      "shuffle.write_bytes" -> d("write_bytes"),
      "shuffle.read_bytes" -> d("read_bytes"),
      "shuffle.spill_bytes" -> d("spill_bytes")) ++
      fs.map { case (k, v) => s"fs.$k" -> (v - m.fs(k)) } ++
      LayerMeter.legs(js, end)
  }
}

object LayerMeter {
  /** Orchestrator phases, keyed by the job labels the program sets. */
  val Phases: Seq[(String, scala.util.matching.Regex)] = Seq(
    "snapshot" -> "^x94: snapshot (.+)$".r,
    "dirty_detect" -> "^x94: (dirty detect)$".r,
    "p0" -> "^x94 p0: (.+)$".r,
    "fold" -> "^x94 f: (.+) fold$".r,
    "sweep" -> "^x96 sweep: (.+)$".r,
    "init" -> "^x94 init: (.+)$".r)

  private val InnerLabel = "^(near|sem|cluster): .+$".r

  /** Per phase, the slowest leg's wall time (first job start to last job
    * end under its label) and job count; per init leg, its wall time. */
  def legs(js: Seq[JobLog#Job], now: Double): Map[String, Double] = {
    val direct = js.flatMap { j =>
      Phases.collectFirst { case (ph, re) if re.findFirstMatchIn(j.desc).isDefined =>
        (ph, re.findFirstMatchIn(j.desc).get.group(1), j) }
    }
    // operators a leg calls relabel their own jobs ("near: fp fold" inside
    // the near leg): such a job joins the leg of that name
    val phaseOfLeg = direct.map(d => d._2 -> d._1).toMap
    val enclosing = Seq("init", "fold").find(ph => direct.exists(_._1 == ph))
    val inner = js.flatMap { j =>
      InnerLabel.findFirstMatchIn(j.desc).flatMap(m =>
        phaseOfLeg.get(m.group(1)).orElse(enclosing).map(ph => (ph, m.group(1), j)))
    }
    val labelled = direct ++ inner
    labelled.groupBy(_._1).flatMap { case (ph, xs) =>
      val perLeg = xs.groupBy(_._2).map { case (leg, ys) =>
        val s = ys.map(_._3.start).min
        val e = ys.map(y => if (y._3.end.isNaN) now else y._3.end).max
        leg -> ((e - s) / 1000.0, ys.size.toDouble)
      }
      val (_, (wall, n)) = perLeg.maxBy(_._2._1)
      Map(s"maintenance.leg.$ph.wall_s" -> wall, s"maintenance.leg.$ph.jobs" -> n) ++
        (if (ph == "init") perLeg.map { case (leg, (w, _)) => s"setup.init.${leg}_s" -> w } else Map.empty)
    }
  }
}
