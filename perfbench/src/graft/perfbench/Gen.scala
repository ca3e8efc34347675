package graft.perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Seeded input generator. Every file it writes is a pure function of the
  * seed and the workload parameters: the same seed gives byte-identical
  * files, so runs differ only in timing. Files are written with the plain
  * parquet writer (no Spark job, no Hadoop FileSystem call), so the
  * generator never shows up in the Spark or filesystem counters of the
  * program under test. */
object Gen {

  /** Traffic dimensions of the `ingest` workload. */
  final case class EventParams(
      eventsPerPartition: Int,   // events per 5-minute logdate partition
      ticksPerPartition: Int,    // live files per partition of event time
      tickMs: Int,               // wall-clock period of the live generator
      backlogPartitions: Int,    // partitions in the catch-up backlog
      lateShare: Double,         // share of live events stamped late
      lateMaxSec: Int,           // how late, at most (< the 10 min watermark)
      categories: Int,           // distinct event_type values
      categorySkew: Double,      // Zipf exponent over the categories
      missingCategoryShare: Double, // share with a null event_type
      malformedShare: Double,    // share whose props body is not JSON
      users: Int)

  /** Corpus and ops shape of the upsert workloads. */
  final case class CorpusParams(
      storedDocs: Int,           // documents in the stored state at init
      batchOps: Int,             // ops per upsert batch
      insertShare: Double,       // inserts among a batch's ops
      batches: Int,              // ops batches generated; the loop runs all of them
      exactDupShare: Double,     // documents that repeat an earlier text
      nearDupShare: Double,      // documents that edit one token of an earlier text
      minTokens: Int,
      maxTokens: Int,
      vocab: Int,
      zipf: Double,
      sources: Int,
      labels: Int) {
    def insertsPerBatch: Int = math.round(batchOps * insertShare).toInt
    def deletesPerBatch: Int = batchOps - insertsPerBatch
    def totalDocs: Int = storedDocs + insertsPerBatch * batches
  }

  val EpochBase: Long = 1704067200L // 2024-01-01T00:00:00Z
  val PartitionSec = 300L
  val Dim = 64

  private val eventSchema: MessageType = MessageTypeParser.parseMessageType(
    """message events {
      |  optional int64 event_id;
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 user_id;
      |  optional binary event_type (STRING);
      |  optional double value;
      |  optional binary props (STRING);
      |}""".stripMargin)

  private val docSchema: MessageType = MessageTypeParser.parseMessageType(
    """message documents {
      |  optional int64 doc_id;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |  optional binary source (STRING);
      |  optional int64 n_chars;
      |}""".stripMargin)

  private val vecSchema: MessageType = MessageTypeParser.parseMessageType(
    """message embeddings {
      |  optional int64 vec_id;
      |  optional group embedding (LIST) {
      |    repeated group list { optional float element; }
      |  }
      |  optional int32 label;
      |}""".stripMargin)

  private val opsSchema: MessageType = MessageTypeParser.parseMessageType(
    """message ops {
      |  optional int64 doc_id;
      |  optional binary op (STRING);
      |  optional binary source (STRING);
      |  optional binary text (STRING);
      |}""".stripMargin)

  /** Write `rows` to `dst` through a hidden temp name and an atomic move,
    * so a directory-watching reader never sees a half-written file. */
  private def writeParquet(dst: Path, schema: MessageType)(rows: SimpleGroupFactory => Iterator[Group]): Unit = {
    val tmp = dst.resolveSibling("." + dst.getFileName.toString + ".tmp")
    val w = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
      .withType(schema)
      .withConf(new Configuration(false))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows(new SimpleGroupFactory(schema)).foreach(w.write) finally w.close()
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
  }

  def logdateOf(epochSec: Long): String = {
    val start = Math.floorDiv(epochSec, PartitionSec) * PartitionSec
    java.time.LocalDateTime.ofEpochSecond(start, 0, java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmm"))
  }

  /** Zipf sampler over [0, n) by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---------------------------------------------------------------- events

  final case class Event(id: Long, epochMicros: Long, user: Long,
                         category: String, value: Double, props: String) {
    def logdate: String = logdateOf(Math.floorDiv(epochMicros, 1000000L))
  }

  /** A deterministic event stream: the backlog, then one batch of events
    * per live tick. Content depends only on the seed and the tick index,
    * never on wall-clock time. */
  final class EventStream(seed: Long, p: EventParams) {
    private val rnd = new SplittableRandom(seed)
    private val cats = new Zipf(p.categories, p.categorySkew)
    private var nextId = 0L
    private var maxSec = EpochBase
    private val tickSec = PartitionSec / p.ticksPerPartition
    private val perTick = p.eventsPerPartition / p.ticksPerPartition

    private def event(sec: Long): Event = {
      val micros = sec * 1000000L + rnd.nextLong(1000000L)
      val cat =
        if (rnd.nextDouble() < p.missingCategoryShare) null
        else s"cat${cats.sample(rnd)}"
      val k = rnd.nextInt(100)
      val props =
        if (rnd.nextDouble() < p.malformedShare) s"""{"k": $k""" // unterminated
        else s"""{"k": $k}"""
      val e = Event(nextId, micros, rnd.nextLong(p.users.toLong), cat,
        math.round(rnd.nextDouble() * 10000.0) / 100.0, props)
      nextId += 1
      e
    }

    /** The catch-up backlog: `backlogPartitions` full partitions, in
      * event-time order. */
    def backlog(): Seq[Event] = {
      val n = p.backlogPartitions.toLong * p.eventsPerPartition
      val span = p.backlogPartitions * PartitionSec
      val evs = (0L until n).map { i =>
        event(EpochBase + (i * span) / n)
      }
      maxSec = EpochBase + span
      evs
    }

    /** Live tick `k` (0-based, after the backlog): `perTick` events in the
      * tick's event-time slice, a `lateShare` of them stamped up to
      * `lateMaxSec` behind the newest event time seen so far. */
    def tick(): Seq[Event] = {
      val start = maxSec
      val evs = (0 until perTick).map { i =>
        val on = start + (i.toLong * tickSec) / perTick
        val sec =
          if (rnd.nextDouble() < p.lateShare) math.max(EpochBase, start - 1 - rnd.nextInt(p.lateMaxSec))
          else on
        event(sec)
      }
      maxSec = start + tickSec
      evs
    }
  }

  def writeEvents(dst: Path, evs: Seq[Event]): Unit =
    writeParquet(dst, eventSchema) { f =>
      evs.iterator.map { e =>
        val g = f.newGroup()
          .append("event_id", e.id)
          .append("ts", e.epochMicros)
          .append("user_id", e.user)
        if (e.category != null) g.append("event_type", e.category)
        g.append("value", e.value).append("props", e.props)
      }
    }

  // ---------------------------------------------------------------- corpus

  /** Pronounceable pseudo-words, the same list for every seed; the first
    * entries are the probe terms, so BM25 always has hits. */
  def vocabulary(n: Int): Array[String] = {
    val fixed = Array("spark", "join", "window", "table", "stream", "batch",
      "query", "index", "merge", "scan")
    val on = "bcdfghjklmnprstvz"
    val vow = "aeiou"
    val r = new SplittableRandom(7L)
    val seen = scala.collection.mutable.LinkedHashSet(fixed.toIndexedSeq: _*)
    while (seen.size < n) {
      val syl = 2 + r.nextInt(2)
      seen += (0 until syl).map(_ => s"${on(r.nextInt(on.length))}${vow(r.nextInt(vow.length))}").mkString
    }
    seen.toArray
  }

  final case class Doc(id: Long, text: String, lang: String, source: String,
                       vec: Array[Float], label: Int)

  /** The whole corpus, ids 0 until `totalDocs`. A document is fresh text,
    * an exact repeat of an earlier text, or that text with one token
    * replaced; repeats carry their origin's vector plus small noise. */
  def corpus(seed: Long, p: CorpusParams): IndexedSeq[Doc] = {
    val rnd = new SplittableRandom(seed)
    val words = vocabulary(p.vocab)
    val zipf = new Zipf(p.vocab, p.zipf)
    val langs = Array("en", "es", "zh", "fr", "de")
    val centers = Array.fill(p.labels)(Array.fill(Dim)(rnd.nextDouble() * 2 - 1))
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val out = new scala.collection.mutable.ArrayBuffer[Doc](p.totalDocs)
    for (id <- 0 until p.totalDocs) {
      val u = rnd.nextDouble()
      val src = s"src${rnd.nextInt(p.sources)}"
      val lang = langs(rnd.nextInt(langs.length))
      val d =
        if (out.nonEmpty && u < p.exactDupShare + p.nearDupShare) {
          val o = out(rnd.nextInt(out.size))
          val toks = o.text.split(" ")
          val text =
            if (u < p.exactDupShare) o.text
            else { toks(rnd.nextInt(toks.length)) = words(zipf.sample(rnd)); toks.mkString(" ") }
          val vec = unit(o.vec.map(x => x + (rnd.nextDouble() - 0.5) * 0.02))
          Doc(id, text, lang, src, vec, o.label)
        } else {
          val n = p.minTokens + rnd.nextInt(p.maxTokens - p.minTokens + 1)
          val text = (0 until n).map(_ => words(zipf.sample(rnd))).mkString(" ")
          val label = rnd.nextInt(p.labels)
          val vec = unit(centers(label).map(c => c + rnd.nextGaussian() * 0.6))
          Doc(id, text, lang, src, vec, label)
        }
      out += d
    }
    out.toIndexedSeq
  }

  def writeDocuments(dst: Path, docs: Seq[Doc]): Unit =
    writeParquet(dst, docSchema) { f =>
      docs.iterator.map(d => f.newGroup().append("doc_id", d.id).append("text", d.text)
        .append("lang", d.lang).append("source", d.source)
        .append("n_chars", d.text.length.toLong))
    }

  def writeEmbeddings(dst: Path, docs: Seq[Doc]): Unit =
    writeParquet(dst, vecSchema) { f =>
      docs.iterator.map { d =>
        val g = f.newGroup().append("vec_id", d.id)
        val l = g.addGroup("embedding")
        d.vec.foreach(x => l.addGroup("list").append("element", x))
        g.append("label", d.label)
      }
    }

  /** One ops batch: inserts are the next unused documents, deletes are
    * drawn from the documents live at that point. */
  final case class OpsBatch(inserts: IndexedSeq[Long], deletes: IndexedSeq[Long])

  def opsPlan(seed: Long, p: CorpusParams): IndexedSeq[OpsBatch] = {
    val rnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val live = scala.collection.mutable.ArrayBuffer.range(0L, p.storedDocs.toLong)
    var next = p.storedDocs.toLong
    (0 until p.batches).map { _ =>
      val dels = (0 until p.deletesPerBatch).map { _ =>
        val i = rnd.nextInt(live.size)
        val id = live(i)
        live(i) = live(live.size - 1)
        live.remove(live.size - 1)
        id
      }
      val ins = (0 until p.insertsPerBatch).map(_ => { val id = next; next += 1; id })
      live ++= ins
      OpsBatch(ins, dels)
    }
  }

  def writeOps(dst: Path, b: OpsBatch, docs: IndexedSeq[Doc]): Unit =
    writeParquet(dst, opsSchema) { f =>
      b.inserts.iterator.map { id =>
        val d = docs(id.toInt)
        f.newGroup().append("doc_id", id).append("op", "I")
          .append("source", d.source).append("text", d.text)
      } ++ b.deletes.iterator.map(id => f.newGroup().append("doc_id", id).append("op", "D"))
    }
}
