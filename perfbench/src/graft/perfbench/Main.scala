package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What one workload run hands back: the correctness verdict, the op
  * counts, and its metrics (end-to-end always, per-layer when traced). */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    endToEnd: Map[String, Double],
    perLayer: Map[String, Double],
    samples: Map[String, Int],
    notes: Seq[String])

/** Everything a workload needs from the harness. */
final class Run(
    val spark: SparkSession,
    val workload: String,
    val seed: Long,
    val seconds: Int,
    val traced: Boolean,
    val work: Path,
    val cores: Int,
    val sessionS: Double) {
  val spans = new Spans(traced, spark.sparkContext)
  val jobs = new JobLog
  val meter = new LayerMeter(spark.sparkContext, jobs, cores)
  if (traced) {
    spark.sparkContext.addSparkListener(jobs)
    Jvm.watchCollections()
  }

  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Time `f` in seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t = Clock.ms()
    val a = f
    (a, Clock.secondsSince(t))
  }
}

/** The benchmark's entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  [--trace-out <file>]`, or `Main --generate-only <dir> --workload <name> --seed <n>`
  * to write a workload's inputs and nothing else, or `Main --list-metrics`
  * to print the metric names and units. Prints a metric table
  * to stderr and, as the last line of stdout, one JSON object. Exits 1 if
  * a correctness check fails. */
object Main {

  val Workloads: Seq[String] = Seq("ingest", "upsert_small")

  /** End-to-end metrics: every workload reports all of them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "rows_per_s" -> "1/s", "batch_p50_s" -> "s",
    "freshness_p50_s" -> "s", "complete_p50_s" -> "s", "read_p50_s" -> "s",
    "maintain_s" -> "s", "store_bytes_per_input_byte" -> "ratio",
    "peak_heap_mb" -> "MB")

  val Artifacts: Seq[String] = Seq("corpus", "exact", "near", "span", "bm25", "agg",
    "sem", "ann", "cluster")
  val ProbeArtifacts: Seq[String] = Seq("corpus", "exact", "near_fp", "span", "bm25",
    "agg", "semantic", "ann", "cluster")
  val Kernels: Seq[String] = Seq("tokens", "shingleHashes", "minhashSig", "polyHash",
    "encodeVectorBatch")
  val InitLegs: Seq[String] = Seq("corpus", "exact", "near", "span", "bm25", "agg",
    "sem", "ann", "cluster")

  /** Per-layer metrics of the traced run. A layer a workload does not
    * exercise reports 0 (no streaming query runs in the upsert
    * workloads, no orchestrator leg or probe in `ingest`). */
  val PerLayer: Seq[(String, String)] =
    Seq("load.generator_late_s" -> "s", "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
      "streaming.wal_commit_ms" -> "ms", "streaming.planning_ms" -> "ms",
      "sources.landing.files_written" -> "count", "sources.landing.files_per_partition" -> "count",
      "sources.landing.partitions_touched" -> "count",
      "sources.bookkeeping.completeness_s" -> "s",
      "sources.notify.posts" -> "count", "sources.notify.post_delay_s" -> "s",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.driver_gap_s" -> "s", "spark.busy_share" -> "ratio",
      "shuffle.write_bytes" -> "B", "shuffle.read_bytes" -> "B", "shuffle.spill_bytes" -> "B") ++
      (FileOps.Ops.map(o => s"fs.$o" -> "count") ++
        Seq("fs.bytes_written" -> "B", "fs.bytes_read" -> "B")) ++
      LayerMeter.Phases.map(_._1).filter(_ != "init").flatMap(ph =>
        Seq(s"maintenance.leg.$ph.wall_s" -> "s", s"maintenance.leg.$ph.jobs" -> "count")) ++
      Artifacts.flatMap(a => Seq(s"versioned_layers.$a.live_layers" -> "count",
        s"versioned_layers.$a.files" -> "count", s"versioned_layers.$a.bytes" -> "B")) ++
      ProbeArtifacts.map(a => s"probe.${a}_s" -> "s") ++
      Kernels.map(k => s"functions.${k}_rows_per_s" -> "1/s") ++
      (Seq("setup.generate_s" -> "s", "setup.session_s" -> "s", "setup.warmup_s" -> "s",
        "setup.quantizers_s" -> "s") ++
        InitLegs.map(l => s"setup.init.${l}_s" -> "s")) ++
      Seq("jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB")

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`name`, v) => v }

  def main(args: Array[String]): Unit = {
    if (args.contains("--list-metrics")) {
      def list(ms: Seq[(String, String)]) =
        ms.map { case (n, u) => Json.obj(Seq("name" -> Json.str(n), "unit" -> Json.str(u))) }
          .mkString("[", ", ", "]")
      println(Json.obj(Seq("end_to_end" -> list(EndToEnd), "per_layer" -> list(PerLayer))))
      return
    }
    val workload = arg(args, "--workload").getOrElse("")
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    require(Workloads.contains(workload),
      s"unknown workload '$workload' (expected one of ${Workloads.mkString(", ")})")
    arg(args, "--generate-only") match {
      case Some(dir) =>
        Inputs.generateAll(workload, seed, Files.createDirectories(Paths.get(dir)))
      case None => run(workload, seed, args)
    }
  }

  private def run(workload: String, seed: Long, args: Array[String]): Unit = {
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(15)
    val traced = arg(args, "--trace").contains("1")
    val work = Files.createDirectories(Paths.get(arg(args, "--work").getOrElse(
      sys.error("--work <dir> is required"))).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", Files.createDirectories(work.resolve("local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Tables.ensureParquetConf(spark)
    val sessionS = Clock.secondsSince(jvmStart)
    val run = new Run(spark, workload, seed, seconds, traced, work, cores, sessionS)
    val result =
      try {
        if (workload == "ingest") IngestWorkload.run(run)
        else UpsertWorkload.run(run)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Result(correct = false, attempted = 1, failed = 1, Map.empty, Map.empty, Map.empty,
            Seq(s"run aborted: $e"))
      }
    if (traced) arg(args, "--trace-out").foreach { out =>
      val lines = run.spans.render(run.jobs.jobs.toArray(Array.empty[JobLog#Job]).toSeq)
      Files.write(Paths.get(out), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    }
    spark.stop()
    report(workload, traced, result)
    System.out.flush()
    sys.exit(if (result.correct && result.failed == 0) 0 else 1)
  }

  private def report(workload: String, traced: Boolean, r: Result): Unit = {
    val err = System.err
    err.println(s"== perfbench $workload (${if (traced) "traced" else "untraced"}) ==")
    err.println(f"${"ops_attempted"}%-40s ${r.attempted}%14d")
    err.println(f"${"ops_failed"}%-40s ${r.failed}%14d")
    val shown = if (traced) PerLayer else EndToEnd
    val values = if (traced) r.perLayer else r.endToEnd
    shown.foreach { case (n, u) =>
      val n0 = values.getOrElse(n, Double.NaN)
      val samples = r.samples.get(n).map(c => s"  (n=$c" +
        (if (Stats.reportable(c, 0.5)) ")" else ", fewer than 10 beyond the median)")).getOrElse("")
      err.println(f"$n%-40s ${n0}%14.6f $u$samples")
    }
    if (traced) {
      err.println("-- traced end-to-end figures --")
      EndToEnd.foreach { case (n, u) =>
        err.println(f"$n%-40s ${r.endToEnd.getOrElse(n, Double.NaN)}%14.6f $u")
      }
    }
    r.notes.foreach(n => err.println(s"note: $n"))
    err.println(s"correct: ${r.correct}")
    err.flush()
    val metrics = shown.flatMap { case (n, u) =>
      values.get(n).map(v => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))))
    }
    val e2e = if (traced) Seq("end_to_end" -> Json.obj(EndToEnd.flatMap { case (n, _) =>
      r.endToEnd.get(n).map(v => n -> Json.num(v)) })) else Nil
    // the traced end-to-end figures go on a line of their own, before the
    // result line, so the tracing overhead can be computed from the output
    if (traced) println(Json.obj(e2e))
    println(Json.obj(Seq(
      "correct" -> (if (r.correct && r.failed == 0) "true" else "false"),
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(metrics))))
  }
}
