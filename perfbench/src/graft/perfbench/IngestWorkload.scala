package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{Bookkeeping, Landing, Notify}
import graft.streaming.{CompletenessListener, JdbcCompletenessStore, StreamingIngest}

/** `ingest`: the reference sink's own job. A catch-up phase lands a seeded
  * backlog in one `landStream` call (a sink restarting after an outage);
  * then a live phase in which one generator thread appends one event file
  * per tick on a fixed wall-clock schedule while the sink calls
  * `landStream` over and over on one checkpoint, with all four callbacks
  * on (catalog table, Derby bookkeeping, a `CompletenessListener`, and an
  * HTTP notify to a stub inside this process). After each landing call a
  * reader runs `Bookkeeping.completeness` and counts partitions through
  * `Landing.read`. After the stream, one `Landing.compactPartitions` pass. */
object IngestWorkload {

  /** Why these values: 1,000 events per 5-minute partition (about eighty
    * times the fixture's 12) so a partition is real data; a 100 ms tick and
    * ten ticks per partition, so the live phase closes one partition per
    * wall-clock second and a landing call lands five partitions' files;
    * 10% late events up to 9 minutes behind, inside the 10-minute
    * watermark, so late data never lands in a partition already reported
    * complete; eight categories with Zipf skew 1.2, 2% without a category
    * and 2% with a malformed body, as the reference's defaulting rules
    * expect; a 48-partition backlog for the catch-up, a call of about 4 s
    * on four cores (with 24 partitions it took about 3 s and its rate
    * spread 0.15-0.3 of the median over ten seeds). */
  val Params: Gen.EventParams = Gen.EventParams(eventsPerPartition = 1000,
    ticksPerPartition = 10, tickMs = 100, backlogPartitions = 48,
    lateShare = 0.10, lateMaxSec = 540, categories = 8, categorySkew = 1.2,
    missingCategoryShare = 0.02, malformedShare = 0.02, users = 500)

  /** The sink's trigger interval: a landing call starts every 5 seconds,
    * or at once when the previous call overran (Spark's processing-time
    * trigger rule). A landing call and its reader pass take 2-4 s on four
    * cores, so the sink keeps up and each call lands the same 50 files
    * however fast the program is; at a 1 s interval the calls overran and
    * a slower program landed more files per call, which made it slower
    * still. */
  val TriggerMs = 5000

  /** A live event file: when the schedule said to write it, when it
    * became visible, and its events. */
  private final case class LiveFile(index: Int, due: Double, created: Double, events: Seq[Gen.Event])

  /** HTTP stub standing in for the scheduler: records every POST path
    * with its arrival time. */
  private final class Stub {
    val received = new ConcurrentLinkedQueue[(String, Double)]()
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    private val pool = Executors.newFixedThreadPool(2)
    server.setExecutor(pool)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      received.add(ex.getRequestURI.getPath -> Clock.ms())
      ex.sendResponseHeaders(200, -1)
      ex.close()
    })
    server.start()
    val url = s"http://127.0.0.1:${server.getAddress.getPort}"
    def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
  }

  private final case class Setup(sf: Path, out: Path, ckpt: Path, table: String,
      jdbcUrl: String, stream: Gen.EventStream, backlog: Seq[Gen.Event],
      generateS: Double)

  private def setup(r: Run, rep: Int, p: Gen.EventParams = Params): Setup = r.spans("setup", s"setup $rep") {
    import r.spark
    val sf = r.dir(s"data$rep")
    val stream = new Gen.EventStream(r.seed, p)
    val (backlog, genS) = r.timed(r.spans("call", "generate")(Inputs.writeBacklog(sf, stream)))
    val out = r.dir(s"landed$rep")
    val table = s"perfbench_landed_$rep"
    r.spans("call", "createPartitionedTable") {
      Landing.createPartitionedTable(spark, table,
        StreamingIngest.enriched(spark, sf.toString).schema, Seq("logdate"), out.toString)
    }
    val url = Bookkeeping.derbyUrl(r.work.resolve(s"derby/bk$rep").toString)
    r.spans("call", "ensureTable")(Bookkeeping.ensureTable(url))
    Setup(sf, out, r.work.resolve(s"ckpt$rep"), table, url, stream, backlog, genS)
  }

  /** A small landing through every path the measured phases take (all
    * four callbacks, a restart on the checkpoint, the reader, compaction)
    * into a throwaway table, so the measured phases run in a warm JVM. It
    * is part of the set-up time. */
  private def warmUp(r: Run): Unit = r.spans("setup", "warm-up") {
    import r.spark
    val w = setup(r, 1, Params.copy(backlogPartitions = 2))
    val stub = new Stub
    val listener = new CompletenessListener(Gen.PartitionSec,
      Some(new JdbcCompletenessStore(w.jdbcUrl, "sink")))(ld => Notify.post(stub.url, "complete", ld))
    spark.streams.addListener(listener)
    try {
      val cb = StreamingIngest.LandingCallbacks(catalogTable = Some(w.table),
        jdbcUrl = Some(w.jdbcUrl), notifyUrl = Some(stub.url), completeness = Some(listener))
      StreamingIngest.landStream(spark, w.sf.toString, w.out.toString, w.ckpt.toString, cb)
      Gen.writeEvents(Inputs.liveFile(Inputs.streamSourceDir(w.sf), 0), w.stream.tick())
      StreamingIngest.landStream(spark, w.sf.toString, w.out.toString, w.ckpt.toString, cb)
      Bookkeeping.completeness(spark, w.jdbcUrl, 1).collect()
      Landing.read(spark, w.out.toString).select(col("logdate")).distinct().count()
      Landing.compactPartitions(spark, w.out.toString, "logdate")
    } finally {
      spark.streams.removeListener(listener)
      stub.stop()
    }
  }

  def run(r: Run): Result = r.spans("workload", r.workload) {
    import r.spark
    val (s, setupS) = r.timed(setup(r, 0))
    val warmS = r.timed(warmUp(r))._2
    Jvm.settle()
    val stub = new Stub
    val streams = new StreamLog
    spark.streams.addListener(streams)
    val listener = new CompletenessListener(Gen.PartitionSec,
      Some(new JdbcCompletenessStore(s.jdbcUrl, "sink")))(ld => Notify.post(stub.url, "complete", ld))
    spark.streams.addListener(listener)
    val callbacks = StreamingIngest.LandingCallbacks(catalogTable = Some(s.table),
      jdbcUrl = Some(s.jdbcUrl), notifyUrl = Some(stub.url), completeness = Some(listener))
    val gcStart = Jvm.gcSeconds()

    def land(batch: Int): (StreamingIngest.LandingReport, Double) = r.timed(
      r.spans("call", "landStream", batch) {
        StreamingIngest.landStream(spark, s.sf.toString, s.out.toString, s.ckpt.toString, callbacks)
      })

    val readS, completenessS = scala.collection.mutable.ArrayBuffer.empty[Double]
    def read(batch: Int): Unit = r.spans("call", "reader", batch) {
      val (_, cs) = r.timed(r.spans("call", "completeness")(
        Bookkeeping.completeness(spark, s.jdbcUrl, 1).collect()))
      val (_, ps) = r.timed(r.spans("call", "partitions")(
        Landing.read(spark, s.out.toString).select(col("logdate")).distinct().count()))
      completenessS += cs
      readS += cs + ps
    }

    // catch-up: the whole backlog in one landing call (closed loop)
    val backlogEvents = s.backlog.size
    val catchUpS = r.spans("phase", "catch-up")(land(0))._2
    read(0)
    Jvm.settle()

    // live: the generator appends one file per tick on a fixed schedule,
    // into the directory the stream source watches (the catch-up call
    // created it)
    val srcDir = Inputs.streamSourceDir(s.sf)
    require(Files.isDirectory(srcDir), s"stream source directory $srcDir was not created")
    val nTicks = math.max(1, r.seconds * 1000 / Params.tickMs)
    val live = new ConcurrentLinkedQueue[LiveFile]()
    val gen = Executors.newSingleThreadScheduledExecutor((rn: Runnable) => {
      val t = new Thread(rn, "perfbench-generator"); t.setDaemon(true); t })
    var tick = 0
    val genStart = Clock.ms()
    gen.scheduleAtFixedRate(() => if (tick < nTicks) {
      val evs = s.stream.tick()
      Gen.writeEvents(Inputs.liveFile(srcDir, tick), evs)
      live.add(LiveFile(tick, genStart + tick * Params.tickMs.toDouble, Clock.ms(), evs))
      tick += 1
    }, 0L, Params.tickMs.toLong, TimeUnit.MILLISECONDS)

    val batchS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var batch = 1
    var landedRows = 0L
    var landedFiles = 0
    // half a tick after the schedule's boundary, so a call never races the
    // file due at the same instant
    val liveStart = genStart + TriggerMs + Params.tickMs / 2.0
    r.spans("phase", "live") {
      var cum = 0L
      while (landedFiles < nTicks) {
        // files land whole and in creation order: advance over every file
        // the landed rows cover (a file can land before it is listed here)
        val created = live.asScala.toIndexedSeq
        while (landedFiles < created.size && cum + created(landedFiles).events.size <= landedRows) {
          cum += created(landedFiles).events.size
          landedFiles += 1
        }
        val due = liveStart + (batch - 1) * TriggerMs.toDouble
        if (created.size == landedFiles || Clock.ms() < due) Thread.sleep(5)
        else {
          val before = if (r.traced) Inputs.dataFiles(s.out).toSet else Set.empty[Path]
          val mark = r.meter.mark()
          val (report, t) = r.spans("batch", s"batch $batch", batch)(land(batch))
          val layers = if (r.traced) {
            val added = Inputs.dataFiles(s.out).filterNot(before)
            val parts = added.map(_.getParent.getFileName.toString).distinct.size
            r.meter.since(mark) ++ Map(
              "sources.landing.files_written" -> added.size.toDouble,
              "sources.landing.partitions_touched" -> parts.toDouble,
              "sources.landing.files_per_partition" -> (if (parts > 0) added.size.toDouble / parts else 0.0))
          } else Map.empty[String, Double]
          batchS += t
          perBatch += layers
          landedRows += report.nEvents
          read(batch)
          batch += 1
        }
      }
    }
    gen.shutdown()
    gen.awaitTermination(10, TimeUnit.SECONDS)
    Jvm.settle()

    // maintenance window: one compaction pass over every partition
    val (_, maintainS) = r.timed(r.spans("call", "compactPartitions")(
      Landing.compactPartitions(spark, s.out.toString, "logdate")))
    Jvm.settle()
    org.apache.spark.perfbench.ListenerBusDrain(spark.sparkContext)
    val progress = streams.dataBatches
    spark.streams.removeListener(listener)
    spark.streams.removeListener(streams)

    // freshness: live files land in creation order, so the cumulative row
    // count of each committed batch says which files it carried
    val files = live.asScala.toSeq.sortBy(_.index)
    val fileEnds = files.scanLeft(backlogEvents.toLong)(_ + _.events.size).tail
    val commits = progress.map(StreamLog.commitMs)
    val cumRows = progress.scanLeft(0L)(_ + _.numInputRows).tail
    def commitOfRow(cum: Long): Double = commits(cumRows.indexWhere(_ >= cum))
    // timed from when each file was due, so a generator that falls behind
    // its schedule cannot hide the wait (its lateness is reported apart)
    val freshness = files.zip(fileEnds).map { case (f, end) => commitOfRow(end) - f.due }
    val lastFileOf = files.flatMap(f => f.events.map(_.logdate -> f.due)).groupBy(_._1)
      .map { case (ld, xs) => ld -> xs.map(_._2).max }
    val completeAt = stub.received.asScala.toSeq.collect {
      case (path, at) if path.startsWith("/complete/") => path.stripPrefix("/complete/") -> at
    }
    val completeLat = completeAt.flatMap { case (ld, at) => lastFileOf.get(ld).map(c => at - c) }
    stub.stop()

    // correctness
    val allEvents = s.backlog ++ files.flatMap(_.events)
    val expectPer = allEvents.groupBy(_.logdate).map { case (k, v) => k -> v.size.toLong }
    val landed = Landing.read(spark, s.out.toString)
    val agg = landed.agg(count(lit(1)), countDistinct(col("event_id")), sum(col("event_id"))).head()
    val n = allEvents.size.toLong
    val landedPer = landed.groupBy(col("logdate").cast("string")).count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    val registered = spark.sql(s"SHOW PARTITIONS ${s.table}").collect()
      .map(_.getString(0).stripPrefix("logdate=")).toSet
    val sunk = Bookkeeping.read(spark, s.jdbcUrl).groupBy(col("logdate").cast("string"))
      .agg(sum(col("sinkcount"))).collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    val finalWm = progress.lastOption.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).getEpochSecond).getOrElse(0L)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm")
    val behind = expectPer.keySet.filter { ld =>
      java.time.LocalDateTime.parse(ld, fmt).toEpochSecond(java.time.ZoneOffset.UTC) +
        Gen.PartitionSec <= finalWm
    }
    val notified = completeAt.map(_._1).toSet
    val checks = Seq(
      "landed rows" -> math.abs(agg.getLong(0) - n),
      "distinct event ids" -> math.abs(agg.getLong(1) - n),
      "event id sum" -> (if (agg.getLong(2) == n * (n - 1) / 2) 0L else 1L),
      "rows per logdate" -> expectPer.count { case (k, v) => !landedPer.get(k).contains(v) }.toLong,
      "registered partitions" -> (registered diff expectPer.keySet).size.toLong.+(
        (expectPer.keySet diff registered).size.toLong),
      "bookkeeping sinkcount" -> expectPer.count { case (k, v) => !sunk.get(k).contains(v) }.toLong,
      "notified behind watermark" -> (behind diff notified).size.toLong)
    val bad = checks.filter(_._2 > 0)

    val inputBytes = Files.size(Inputs.eventsFile(s.sf)) +
      files.map(f => Files.size(Inputs.liveFile(srcDir, f.index))).sum
    val e2e = Map(
      "setup_s" -> (r.sessionS + setupS + warmS),
      "rows_per_s" -> backlogEvents / catchUpS,
      "batch_p50_s" -> Stats.median(batchS.toSeq),
      "freshness_p50_s" -> Stats.median(freshness) / 1000.0,
      "complete_p50_s" -> Stats.median(completeLat) / 1000.0,
      "read_p50_s" -> Stats.median(readS.toSeq),
      "maintain_s" -> maintainS,
      "store_bytes_per_input_byte" -> Inputs.bytesUnder(s.out).toDouble / inputBytes,
      "peak_heap_mb" -> Jvm.settledPeakMb())
    val perLayer =
      if (!r.traced) Map.empty[String, Double]
      else {
        val keys = perBatch.flatMap(_.keys).distinct
        val stream = Seq("trigger_ms" -> "triggerExecution", "add_batch_ms" -> "addBatch",
          "wal_commit_ms" -> "walCommit", "planning_ms" -> "queryPlanning").map { case (k, d) =>
          s"streaming.$k" -> Stats.median(progress.drop(1).map(StreamLog.duration(_, d)))
        }
        val landingPosts = stub.received.asScala.count(_._1.startsWith("/sink/"))
        val postDelay = completeAt.flatMap { case (_, at) =>
          commits.filter(_ <= at).lastOption.map(c => (at - c) / 1000.0) }
        Main.PerLayer.map(_._1 -> 0.0).toMap ++
          keys.map(k => k -> Stats.median(perBatch.flatMap(_.get(k)).toSeq)).toMap ++ stream ++ Map(
          "sources.bookkeeping.completeness_s" -> Stats.median(completenessS.toSeq),
          "sources.notify.posts" -> (landingPosts + completeAt.size).toDouble / (batchS.size + 1),
          "sources.notify.post_delay_s" -> Stats.median(postDelay),
          "setup.generate_s" -> s.generateS,
          "setup.warmup_s" -> warmS,
          "load.generator_late_s" -> Stats.median(files.map(f => (f.created - f.due) / 1000.0)),
          "setup.session_s" -> r.sessionS,
          "jvm.gc_s" -> (Jvm.gcSeconds() - gcStart),
          "jvm.heap_peak_mb" -> Jvm.afterGcPeakMb())
      }
    val nb = batchS.size
    Result(correct = bad.isEmpty, attempted = n, failed = bad.map(_._2).sum, e2e, perLayer,
      Map("batch_p50_s" -> nb, "freshness_p50_s" -> freshness.size,
        "complete_p50_s" -> completeLat.size, "read_p50_s" -> readS.size),
      bad.map { case (k, v) => s"MISMATCH $k: $v" } ++ Seq(
        f"catch-up: $backlogEvents events in $catchUpS%.3f s; live: ${files.size} files, $nb landing calls",
        f"freshness p90 ${Stats.quantile(freshness, 0.9) / 1000.0}%.3f s over ${freshness.size} files" +
          (if (Stats.reportable(freshness.size, 0.9)) "" else " (too few samples to report)")))
  }
}
