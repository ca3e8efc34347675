package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ArrayBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.{Maintenance, Search, Similarity}
import graft.operators.Maintenance.MultiArtifactDirs
import graft.streaming.StreamingIngest

/** `upsert_small`: the nine-artifact end-state loop with small batches.
  * `multiArtifactInit` builds the stored state; then, in a closed loop, one
  * generator thread writes the next ops batch (inserts and deletes) when
  * the sink asks for it, the sink applies it with one `multiArtifactUpsert`,
  * and a reader runs the probe set, one artifact at a time. The loop runs
  * a fixed number of batches, whatever `--seconds` says, so every build of
  * the program does the same work on the same state. After the last batch,
  * `multiArtifactCompactIfNeeded` runs and the probe set runs once more;
  * then the order-free artifacts are checked against a one-shot
  * computation over the final live set. */
object UpsertWorkload {

  /** Why these values: 100 ops per batch over a 1,000-document stored
    * corpus, so the fixed cost per batch (jobs, publishes, manifest and
    * listing I/O) dominates; 80% inserts, so the corpus grows while deletes
    * still fold through every artifact; 5% exact and 10% near duplicates,
    * so the dedup, span and cluster legs have hits; 20-60 tokens per
    * document from a 2,000-word Zipf vocabulary, like the fixture text;
    * one batch, because a batch and its probe set take 20-30 s on four
    * cores: a second one would push the benchmark's 48 runs past their
    * time budget. */
  val Params: Gen.CorpusParams = Gen.CorpusParams(storedDocs = 1000, batchOps = 100,
    insertShare = 0.8, batches = 1, exactDupShare = 0.05, nearDupShare = 0.10,
    minTokens = 20, maxTokens = 60, vocab = 2000, zipf = 1.0, sources = 20, labels = 10)

  private final case class Setup(sf: Path, dirs: MultiArtifactDirs,
      docs: IndexedSeq[Gen.Doc], plan: IndexedSeq[Gen.OpsBatch],
      generateS: Double, quantizersS: Double, initS: Double, layers: Map[String, Double]) {
    def totalS: Double = generateS + quantizersS + initS
  }

  private def setup(r: Run, p: Gen.CorpusParams): Setup = r.spans("setup", "setup") {
    import r.spark
    val sf = r.dir("data")
    val mark = r.meter.mark()
    val ((docs, plan), genS) = r.timed(r.spans("call", "generate") {
      val docs = Gen.corpus(r.seed, p)
      Inputs.writeCorpus(sf, docs)
      (docs, Gen.opsPlan(r.seed, p))
    })
    val (_, qS) = r.timed(r.spans("call", "quantizers") {
      Similarity.ivfCentroids(spark, sf.toString).count()
      Similarity.pqCodebooks(spark, sf.toString)
    })
    val dirs = MultiArtifactDirs(r.dir("art").toString)
    val (_, initS) = r.timed(r.spans("call", "multiArtifactInit") {
      Maintenance.multiArtifactInit(spark, sf.toString, dirs,
        Tables.documents(spark, sf.toString).where(col("doc_id") < p.storedDocs)
          .select(col("doc_id"), col("source"), col("text")))
    })
    val layers = if (r.traced) r.meter.since(mark) else Map.empty[String, Double]
    Setup(sf, dirs, docs, plan, genS, qS, initS, layers)
  }

  /** Directory of each artifact the per-layer walk reports. */
  private def artifactDir(d: MultiArtifactDirs, a: String): String = a match {
    case "corpus" => d.corpusDir
    case "exact" => d.exactDir
    case "near" => d.nearDir
    case "span" => d.spanDir
    case "bm25" => d.bm25Dir
    case "agg" => d.aggDir
    case "sem" => d.semDir
    case "ann" => d.annDir
    case "cluster" => s"${d.root}/cluster"
  }

  /** Layers, data files and bytes of one artifact, by walking its
    * directory from outside: every versioned root below it contributes
    * the distinct layer tags of its current manifest; a snapshot store
    * (pointer without manifests) counts one. */
  private def walkArtifact(dir: Path): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val roots = if (!Files.exists(dir)) Nil else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(p => p.getFileName.toString == "_LATEST").map(_.getParent).toList
      finally s.close()
    }
    val layers = roots.map { root =>
      val ptr = new String(Files.readAllBytes(root.resolve("_LATEST")), "UTF-8").trim
      val manifest = root.resolve("manifests").resolve(ptr)
      if (Files.isRegularFile(manifest))
        Files.readAllLines(manifest).asScala.filter(_.nonEmpty).map(_.split("\t")(0)).distinct.size
      else 1
    }.sum
    Map("live_layers" -> layers.toDouble, "files" -> Inputs.dataFiles(dir).size.toDouble,
      "bytes" -> Inputs.bytesUnder(dir).toDouble)
  }

  /** Rows per second of each text/vector kernel over the whole corpus as
    * one bulk batch, timed standalone (best of two runs, `noop` sink). */
  private def kernels(r: Run, s: Setup): Map[String, Double] = {
    import r.spark
    val n = s.docs.size
    val docs = Tables.documents(spark, s.sf.toString).where(col("doc_id") < n)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val vecs = Tables.embeddings(spark, s.sf.toString).where(col("vec_id") < n)
      .select(col("vec_id"), col("embedding")).localCheckpoint(true)
    val tk = TextFns.tokens(col("text"))
    val sh = TextFns.shingleHashes(tk, 3)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "tokens" -> (() => docs.select(tk)),
      "shingleHashes" -> (() => docs.select(sh)),
      "minhashSig" -> (() => docs.select(TextFns.minhashSig(sh, 16))),
      "polyHash" -> (() => docs.select(TextFns.polyHash(col("text")))),
      "encodeVectorBatch" -> (() => Similarity.encodeVectorBatch(spark, s.sf.toString, vecs)))
    cases.map { case (k, df) =>
      val best = (0 until 2).map(_ => r.timed(df().write.format("noop").mode("overwrite").save())._2).min
      s"functions.${k}_rows_per_s" -> n / best
    }.toMap
  }

  /** One ops file through one `multiArtifactUpsert`. */
  private def upsert(r: Run, s: Setup, file: Path, tag: String): Unit =
    r.spans("call", "multiArtifactUpsert") {
      val ops = r.spark.read.parquet(file.toString)
      Maintenance.multiArtifactUpsert(r.spark, s.sf.toString, s.dirs,
        ops.where(col("op") === "I").select(col("doc_id"), col("source"), col("text")),
        ops.where(col("op") === "D").select(col("doc_id")), tag)
    }

  /** The reader: the probe set, one artifact at a time. Returns the whole
    * call's latency and each artifact's. */
  private def probeAll(r: Run, s: Setup, batch: Int): (Double, Map[String, Double]) =
    r.spans("call", "probe", batch) {
      val (probe, buildS) = r.timed(Maintenance.multiArtifactProbe(r.spark, s.sf.toString, s.dirs))
      val per = Main.ProbeArtifacts.map { a =>
        a -> r.timed(r.spans("call", s"probe $a")(probe.where(col("artifact") === a).collect()))._2
      }
      (buildS + per.map(_._2).sum, per.map { case (a, t) => s"probe.${a}_s" -> t }.toMap)
    }

  def run(r: Run): Result = r.spans("workload", r.workload) {
    import r.spark
    val p = Params
    val s = setup(r, p)
    Jvm.settle()
    val gcStart = Jvm.gcSeconds()

    // one generator thread: writes ops batch i when the sink asks for it
    val requests = new ArrayBlockingQueue[Integer](1)
    val ready = new ArrayBlockingQueue[(Path, Double)](1)
    val generator = new Thread(() => {
      try {
        var i = requests.take().intValue
        while (i >= 0) {
          val f = Inputs.opsFile(s.sf, i)
          Gen.writeOps(f, s.plan(i), s.docs)
          ready.put((f, Clock.ms()))
          i = requests.take().intValue
        }
      } catch { case _: InterruptedException => () }
    }, "perfbench-generator")
    generator.setDaemon(true)
    generator.start()

    val batchS, freshS, completeS, readS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    val live = scala.collection.mutable.LinkedHashSet.from(0L until p.storedDocs.toLong)
    var opsDone = 0L
    val loopStart = Clock.ms()

    for (i <- s.plan.indices) {
      val b = s.plan(i)
      requests.put(i)
      val (file, created) = Option(ready.poll(60, TimeUnit.SECONDS))
        .getOrElse(sys.error(s"the generator did not deliver ops batch $i"))
      val mark = r.meter.mark()
      val (_, upS) = r.timed(r.spans("batch", s"batch $i", i)(upsert(r, s, file, s"b$i")))
      val committed = Clock.ms()
      val layers = if (r.traced) r.meter.since(mark) else Map.empty[String, Double]
      b.deletes.foreach(live.remove)
      live ++= b.inserts
      opsDone += b.inserts.size + b.deletes.size
      val (rdS, probes) = probeAll(r, s, i)
      val walked = if (r.traced) Main.Artifacts.flatMap { a =>
        walkArtifact(java.nio.file.Paths.get(artifactDir(s.dirs, a))).map { case (k, v) =>
          s"versioned_layers.$a.$k" -> v }
      }.toMap else Map.empty[String, Double]
      batchS += upS
      freshS += committed - created
      completeS += Clock.ms() - created
      readS += rdS
      perBatch += layers ++ probes ++ walked
      Jvm.settle()
    }
    requests.put(-1)
    generator.join(10000)
    val loopWall = Clock.secondsSince(loopStart)

    val maintMark = r.meter.mark()
    val (_, maintainS) = r.timed(r.spans("call", "multiArtifactCompactIfNeeded") {
      Maintenance.multiArtifactCompactIfNeeded(spark, s.dirs, maxLayers = 1)
    })
    val sweep = if (r.traced) r.meter.since(maintMark).filter(_._1.startsWith("maintenance.leg.sweep."))
      else Map.empty[String, Double]
    val (finalProbe, finalReadS) = r.timed(r.spans("call", "probe final") {
      Maintenance.multiArtifactProbe(spark, s.sf.toString, s.dirs).collect()
    })
    Jvm.settle()
    val (mismatches, notes) = check(r, s, live.toSeq, finalProbe)

    val inputBytes = Files.size(s.sf.resolve("documents.parquet")) +
      Files.size(s.sf.resolve("embeddings.parquet")) + Inputs.bytesUnder(s.sf.resolve("ops"))
    val n = batchS.size
    // freshness and complete belong to `ingest`; they are here only because
    // every workload must report every end-to-end metric. In this closed
    // loop they add nothing: freshness is batch_p50_s plus the generator's
    // hand-off, complete is batch_p50_s plus read_p50_s.
    val e2e = Map(
      "setup_s" -> (r.sessionS + s.totalS),
      "rows_per_s" -> opsDone / batchS.sum,
      "batch_p50_s" -> Stats.median(batchS.toSeq),
      "freshness_p50_s" -> Stats.median(freshS.toSeq) / 1000.0,
      "complete_p50_s" -> Stats.median(completeS.toSeq) / 1000.0,
      "read_p50_s" -> Stats.median(readS.toSeq),
      "maintain_s" -> maintainS,
      "store_bytes_per_input_byte" -> Inputs.bytesUnder(java.nio.file.Paths.get(s.dirs.root)).toDouble / inputBytes,
      "peak_heap_mb" -> Jvm.settledPeakMb())
    val perLayer =
      if (!r.traced) Map.empty[String, Double]
      else {
        val keys = perBatch.flatMap(_.keys).distinct
        val batchMedians = keys.map(k => k -> Stats.median(perBatch.flatMap(_.get(k)).toSeq)).toMap
        Main.PerLayer.map(_._1 -> 0.0).toMap ++ batchMedians ++ sweep ++
          s.layers.filter(_._1.startsWith("setup.init.")) ++ kernels(r, s) ++ Map(
          "setup.generate_s" -> s.generateS,
          "setup.session_s" -> r.sessionS,
          "setup.quantizers_s" -> s.quantizersS,
          "jvm.gc_s" -> (Jvm.gcSeconds() - gcStart),
          "jvm.heap_peak_mb" -> Jvm.afterGcPeakMb())
      }
    Result(correct = mismatches == 0, attempted = opsDone, failed = mismatches,
      e2e, perLayer,
      Map("batch_p50_s" -> n, "freshness_p50_s" -> n, "complete_p50_s" -> n, "read_p50_s" -> n),
      notes ++ Seq(f"batches: $n, loop wall ${loopWall}%.2f s, final read $finalReadS%.3f s",
        "batch s: " + batchS.map(x => f"$x%.2f").mkString(" "),
        "read s: " + readS.map(x => f"$x%.2f").mkString(" "),
        f"setup s: gen ${s.generateS}%.2f quant ${s.quantizersS}%.2f init ${s.initS}%.2f"))
  }

  /** Compare the order-free artifacts with a one-shot computation over the
    * final live set: the live corpus and the per-source aggregate view (as
    * the probe serves them) and the BM25 term df and scalars (as stored).
    * Returns the number of mismatching rows and a note per mismatch. */
  private def check(r: Run, s: Setup, live: Seq[Long], probe: Array[Row]): (Long, Seq[String]) = {
    import r.spark
    import spark.implicits._
    val liveDocs = Tables.documents(spark, s.sf.toString)
      .join(broadcast(live.toDF("doc_id")), Seq("doc_id"), "leftsemi")
      .select(col("doc_id"), col("source"), col("text"))
    def rows(a: String): Set[Seq[Any]] =
      probe.filter(_.getAs[String]("artifact") == a).map(x => Seq(x.get(1), x.get(2), x.get(3))).toSet
    val corpus = liveDocs.select(col("doc_id").cast("string"), TextFns.polyHash(col("text")),
      length(col("text")).cast("long")).collect().map(_.toSeq).toSet
    val agg = Maintenance.docAggOfTk(liveDocs.withColumn("tk", TextFns.tokens(col("text"))))
      .select(col("source"), col("n_docs"), col("n_tokens")).collect().map(_.toSeq).toSet
    val (termDf, scalars) = StreamingIngest.readBm25Stats(spark, s.dirs.bm25Dir)
    def diff(a: DataFrame, b: DataFrame): Long = a.exceptAll(b).count() + b.exceptAll(a).count()
    val dfDiff = diff(termDf.select(col("term"), col("df")), Search.bm25TermDfOf(liveDocs))
    val scDiff = diff(scalars.select(col("n_docs"), col("total_len")), Search.bm25ScalarsOf(liveDocs))
    val checks = Seq(
      "corpus" -> ((rows("corpus") diff corpus).size + (corpus diff rows("corpus")).size).toLong,
      "agg" -> ((rows("agg") diff agg).size + (agg diff rows("agg")).size).toLong,
      "bm25 df" -> dfDiff, "bm25 scalars" -> scDiff)
    val bad = checks.filter(_._2 > 0)
    (bad.map(_._2).sum + (if (live.size != corpus.size) 1 else 0),
      bad.map { case (k, n) => s"MISMATCH $k: $n rows differ from the one-shot computation" } ++
        (if (live.size != corpus.size) Seq(s"MISMATCH live set ${live.size} != ${corpus.size}") else Nil))
  }
}
