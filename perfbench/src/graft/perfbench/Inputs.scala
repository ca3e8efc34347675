package graft.perfbench

import java.nio.file.{Files, Path}

/** Where each workload's inputs live inside a generated sfDir-shaped
  * directory, and the all-inputs writer the determinism test drives. */
object Inputs {
  def eventsFile(sf: Path): Path = sf.resolve("events.parquet")
  def opsDir(sf: Path): Path = Files.createDirectories(sf.resolve("ops"))
  def opsFile(sf: Path, i: Int): Path = opsDir(sf).resolve(f"batch-$i%05d.parquet")
  def liveFile(dir: Path, k: Int): Path = dir.resolve(f"live-$k%06d.parquet")

  /** The directory the program's file stream source watches for `sf`
    * (`StreamingIngest.source`): it links the sfDir's `events.parquet`
    * there, and new event files are appended beside that link. */
  def streamSourceDir(sf: Path): Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft_stream_src_" + sf.toString.replaceAll("[^0-9a-zA-Z]", "_"))

  /** Write the backlog of an event stream as the sfDir's events table. */
  def writeBacklog(sf: Path, stream: Gen.EventStream): Seq[Gen.Event] = {
    val evs = stream.backlog()
    Gen.writeEvents(eventsFile(sf), evs)
    evs
  }

  /** Write the documents and embeddings tables of a corpus. */
  def writeCorpus(sf: Path, docs: IndexedSeq[Gen.Doc]): Unit = {
    Gen.writeDocuments(sf.resolve("documents.parquet"), docs)
    Gen.writeEmbeddings(sf.resolve("embeddings.parquet"), docs)
  }

  /** Every input file a run of `workload` can read, written in one go with
    * no wall clock involved: for `ingest` the backlog plus a fixed number
    * of live ticks, for the upsert workloads the corpus plus every ops
    * batch. */
  def generateAll(workload: String, seed: Long, sf: Path): Unit =
    if (workload == "ingest") {
      val s = new Gen.EventStream(seed, IngestWorkload.Params)
      writeBacklog(sf, s)
      val live = Files.createDirectories(sf.resolve("live"))
      (0 until 40).foreach(k => Gen.writeEvents(liveFile(live, k), s.tick()))
    } else {
      val p = UpsertWorkload.Params
      val docs = Gen.corpus(seed, p)
      writeCorpus(sf, docs)
      Gen.opsPlan(seed, p).zipWithIndex.foreach { case (b, i) => Gen.writeOps(opsFile(sf, i), b, docs) }
    }

  /** Bytes of every regular file under `dir` (0 if absent). */
  def bytesUnder(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  /** Regular data files under `dir`: not hidden, not checksums, not markers. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList finally s.close()
    }
}
