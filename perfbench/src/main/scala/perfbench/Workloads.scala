package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.streaming.FilePipeline
import graft.streaming.FilePipeline.{Config, Dirs}

/** One workload: inputs made from the seed, a warm-up operation, then
  * a timed window of operations (tracing off), and in a traced run a
  * second window with tracing on. Every operation's outputs are checked
  * outside its timed part.
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark = ctx.spark
  protected def out = ctx.out

  /** Span name of the timed operation. */
  def opName: String

  /** Writes the inputs; untimed. */
  def prepare(): Unit

  /** One operation: its timed seconds and the input bytes it covered. */
  def op(i: Int): (Double, Long)

  /** Texts of this workload's inputs for the layer scenarios. */
  def sampleTexts: Seq[String]

  /** Untimed first operations: let the JIT and caches settle. */
  def warmUp(): Unit = { op(-2); op(-1) }

  /** A documents/embeddings corpus of this workload, if it has one. */
  def corpusDir: Option[Path] = None

  def run(): Unit = {
    Seq("large_file_byte_share", "multibyte_byte_share", "multibyte_token_share",
      "dup_share_per_drop", "near_dup_doc_share").foreach(p => out.metric(s"input.$p", "ratio", 0.0))
    out.metric("sinks.out_per_in", "ratio", 0.0)
    prepare()
    ctx.note("inputs written")
    warmUp()
    ctx.note("warm-up operation done")
    val plain = ctx.window(op)
    report(plain)
    ctx.note(s"timed window done: ${plain.length} operations")
    if (ctx.args.trace) {
      ctx.startTracing()
      val traced = ctx.window(i => op(1000 + i))
      val (p, t) = (summary(plain), summary(traced))
      out.metric("overhead.op_p50_s", "s", t._1 - p._1)
      out.metric("overhead.mb_s", "MB/s", t._2 - p._2)
      Engine.report(ctx, ctx.tracer.all.filter(_.name == opName))
    }
  }

  private def summary(ops: Seq[(Double, Long)]): (Double, Double) =
    (Stats.median(ops.map(_._1)), ops.map(_._2).sum / 1e6 / ops.map(_._1).sum)

  private def report(ops: Seq[(Double, Long)]): Unit = {
    val (p50, mbs) = summary(ops)
    out.metric("op_p50_s", "s", p50)
    out.metric("mb_s", "MB/s", mbs)
    out.metric("ops", "count", ops.length)
  }

  protected def errorOf(body: => Unit): Seq[String] =
    try { body; Nil } catch { case e: Throwable => Seq(s"$opName threw: $e") }
}

object Workload {
  def apply(ctx: Ctx): Workload = ctx.args.workload match {
    case "ingest" => new Ingest(ctx)
    case "rescan" => new Rescan(ctx)
    case "curate" => new Curate(ctx)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def md5(b: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** Reference defaults (chunk 1000 B, 10 RS symbols) and the
    * benchmark's file-size bound.
    */
  def config(s: Sizes): Config = Config(maxFileBytes = s.maxFileBytes)

  def dirs(root: Path, input: Path, chunks: Boolean): Dirs = Dirs(
    input = input.toString,
    output = root.resolve("output").toString,
    reports = root.resolve("reports").toString,
    tracking = root.resolve("tracking").toString,
    deadLetter = root.resolve("dead_letter").toString,
    statusEvents = root.resolve("status_events").toString,
    checkpoint = root.resolve("checkpoint").toString,
    chunks = if (chunks) root.resolve("chunks").toString else "")

  /** Sink directories whose bytes count as pipeline output. */
  def sinkBytes(d: Dirs): Long =
    Seq(d.output, d.reports, d.tracking, d.deadLetter, d.statusEvents, d.chunks)
      .filter(_.nonEmpty).map(p => Stats.dirBytes(Paths.get(p))).sum

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else { val s = Files.list(dir); try s.iterator.asScala.toList finally s.close() }
}

/** `FilePipeline.runBatch` over a fresh directory holding the whole
  * heavy-tailed corpus, chunk sink on.
  */
final class Ingest(c: Ctx) extends Workload(c) {
  val opName = "streaming.runBatch"
  private val cfg = Workload.config(ctx.sizes)
  private var corpus: Gen.IngestCorpus = _
  private var md5s: Map[String, String] = Map.empty
  private var inBytes, outBytes = 0L

  def prepare(): Unit = {
    val s = ctx.sizes
    corpus = Gen.ingestCorpus(ctx.dir("ingest_corpus"), ctx.args.seed, s.ingestSmall,
      s.ingestLarge, s.ingestOversize, s.maxFileBytes)
    md5s = corpus.files.map(f => f -> Workload.md5(Files.readAllBytes(corpus.dir.resolve(f)))).toMap
    val st = corpus.stats
    out.metric("input.files", "count", st.files)
    out.metric("input.bytes", "B", st.bytes.toDouble)
    out.metric("input.large_file_byte_share", "ratio", st.bytesInLargeFiles.toDouble / st.bytes)
    out.metric("input.multibyte_byte_share", "ratio", st.multibyteBytes.toDouble / st.bytes)
    out.metric("input.multibyte_token_share", "ratio", st.multibyteTokens.toDouble / st.tokens)
    out.metric("input.oversize_files", "count", corpus.oversize.size)
  }

  def sampleTexts: Seq[String] =
    corpus.files.filterNot(corpus.oversize).take(ctx.sizes.sampleFiles)
      .map(f => new String(Files.readAllBytes(corpus.dir.resolve(f)), UTF_8))

  def op(i: Int): (Double, Long) = {
    val root = ctx.dir(s"ingest_run_$i")
    val in = root.resolve("input")
    Files.createDirectories(in)
    corpus.files.foreach(f => Files.createLink(in.resolve(f), corpus.dir.resolve(f)))
    val d = Workload.dirs(root, in, chunks = true)
    val (err, secs) = Stats.timed(errorOf(ctx.tracer.span(opName) {
      FilePipeline.runBatch(spark, d, cfg)
    }))
    out.op(if (err.nonEmpty) err else check(d, in))
    if (i >= 0) { inBytes += corpus.stats.bytes; outBytes += Workload.sinkBytes(d) }
    out.metric("sinks.out_per_in", "ratio", outBytes.toDouble / math.max(inBytes, 1L))
    Stats.deleteTree(root)
    (secs, corpus.stats.bytes)
  }

  /** Byte-identical outputs, checksummed reports, one tracking row per
    * content hash, and exactly the oversize files dead-lettered.
    */
  private def check(d: Dirs, in: Path): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val ok = corpus.files.filterNot(corpus.oversize)
    ok.foreach { f =>
      val o = Paths.get(d.output, s"processed_$f")
      if (!Files.exists(o) || !java.util.Arrays.equals(Files.readAllBytes(o),
          Files.readAllBytes(in.resolve(f))))
        errs += s"ingest: processed_$f is not byte-identical to its input"
    }
    val outs = Workload.listFiles(Paths.get(d.output))
      .count(_.getFileName.toString.startsWith("processed_"))
    if (outs != ok.size) errs += s"ingest: $outs outputs for ${ok.size} inputs"
    val reports = spark.read.json(d.reports)
      .select("filename", "original_checksum", "reconstructed_checksum").collect()
    if (reports.length != ok.size) errs += s"ingest: ${reports.length} reports for ${ok.size} inputs"
    reports.foreach { r =>
      if (r.getString(1) != r.getString(2) || !md5s.get(r.getString(0)).contains(r.getString(1)))
        errs += s"ingest: report checksum mismatch for ${r.getString(0)}"
    }
    val hashes = spark.read.parquet(d.tracking).select("file_hash").collect().map(_.getString(0))
    if (hashes.length != hashes.distinct.length || hashes.toSet != md5s.values.toSet)
      errs += s"ingest: tracking has ${hashes.length} rows for ${md5s.values.toSet.size} contents"
    val dead =
      if (!Files.exists(Paths.get(d.deadLetter))) Set.empty[String]
      else spark.read.json(d.deadLetter).select("filename").collect().map(_.getString(0)).toSet
    if (dead != corpus.oversize) errs += s"ingest: dead-lettered ${dead.toSeq.sorted} != oversize"
    errs.result()
  }
}

/** Closed loop, one client: after a history batch, each drop lands a
  * few hundred small files (mostly content already tracked, under new
  * names) and runs `FilePipeline.run` with `Trigger.AvailableNow`
  * against the growing tracking table; the next drop is written only
  * after the run returns.
  */
final class Rescan(c: Ctx) extends Workload(c) {
  val opName = "streaming.run"
  val DupShare = 0.9
  private val cfg = Workload.config(ctx.sizes)
  private val source = new Gen.RescanSource(ctx.args.seed)
  private lazy val root = ctx.dir("rescan")
  private lazy val in = root.resolve("input")
  private lazy val d = Workload.dirs(root, in, chunks = false)
  private var expected = 0
  private var drops = 0
  private var dropped, dupDropped = 0L
  private var inBytes, outBytes = 0L
  private val sample = scala.collection.mutable.ArrayBuffer.empty[String]

  def prepare(): Unit = {
    val st = source.history(in, ctx.sizes.rescanHistory)
    expected = st.files
    out.metric("input.history_files", "count", st.files)
    out.metric("input.multibyte_byte_share", "ratio", st.multibyteBytes.toDouble / st.bytes)
    out.metric("input.multibyte_token_share", "ratio", st.multibyteTokens.toDouble / st.tokens)
    out.op(runOnce())
  }

  def sampleTexts: Seq[String] = sample.take(ctx.sizes.sampleFiles).toSeq

  private def runOnce(): Seq[String] = {
    val err = errorOf(ctx.tracer.span(opName) {
      val q = FilePipeline.run(spark, d, cfg, Trigger.AvailableNow())
      ctx.tracer.adopt(q.runId.toString)
      q.awaitTermination()
    })
    if (err.nonEmpty) err else check()
  }

  def op(i: Int): (Double, Long) = {
    drops += 1
    val before = Workload.listFiles(in).toSet
    val (st, fresh) = source.drop(in, drops, ctx.sizes.rescanDrop, DupShare)
    if (sample.length < ctx.sizes.sampleFiles)
      sample ++= Workload.listFiles(in).filterNot(before).sorted
        .map(p => new String(Files.readAllBytes(p), UTF_8))
    expected += fresh
    dropped += st.files; dupDropped += st.files - fresh
    out.metric("input.dup_share_per_drop", "ratio", dupDropped.toDouble / dropped)
    out.metric("input.drop_files", "count", ctx.sizes.rescanDrop)
    val sinkBefore = Workload.sinkBytes(d)
    val (errs, secs) = Stats.timed(runOnce())
    out.op(errs)
    if (i >= 0) { inBytes += st.bytes; outBytes += Workload.sinkBytes(d) - sinkBefore }
    out.metric("sinks.out_per_in", "ratio", outBytes.toDouble / math.max(inBytes, 1L))
    (secs, st.bytes)
  }

  /** Exactly once: no content hash tracked twice, and one output per
    * distinct content ever dropped.
    */
  private def check(): Seq[String] = {
    val outs = Workload.listFiles(Paths.get(d.output))
      .count(_.getFileName.toString.startsWith("processed_"))
    val hashes = spark.read.parquet(d.tracking).select("file_hash").collect().map(_.getString(0))
    Seq(
      Option.when(outs != expected)(s"rescan: $outs outputs for $expected distinct contents"),
      Option.when(hashes.length != hashes.distinct.length)(
        s"rescan: ${hashes.length - hashes.distinct.length} hashes tracked twice"),
      Option.when(hashes.distinct.length != expected)(
        s"rescan: ${hashes.distinct.length} tracked hashes for $expected contents")).flatten
  }
}

/** The corpus → curated-manifest chain: every pass opens a fresh
  * session (cold session caches) and runs the read-only curate chain
  * through the noop sink. The warm-up pass writes each result instead,
  * for the DuckDB oracle comparison.
  */
final class Curate(c: Ctx) extends Workload(c) {
  val opName = "operators.curate_chain"
  private var corpus: Path = _
  private var stats: Gen.CorpusStats = _

  override def corpusDir: Option[Path] = Some(corpus)

  def prepare(): Unit = {
    val s = ctx.sizes
    corpus = ctx.dir("curate_corpus")
    stats = Gen.curateCorpus(spark, corpus, ctx.args.seed, s.curateBaseDocs,
      s.curateBaseVecs, s.curateCopies)
    out.metric("input.docs", "count", stats.docs)
    out.metric("input.vectors", "count", stats.vectors)
    out.metric("input.near_dup_doc_share", "ratio", stats.nearDupDocs.toDouble / stats.docs)
    out.metric("input.exact_dup_doc_share", "ratio", stats.exactDupDocs.toDouble / stats.docs)
  }

  def sampleTexts: Seq[String] =
    spark.read.parquet(corpus.resolve("documents.parquet").toString)
      .select("text").limit(ctx.sizes.sampleFiles * 10).collect().map(_.getString(0))
      .grouped(10).map(_.mkString("\n")).toSeq

  def op(i: Int): (Double, Long) = {
    val s = spark.newSession()
    val (_, secs) = Stats.timed(ctx.tracer.span(opName) {
      Chains.Curate.foreach { q =>
        out.op(errorOf(ctx.tracer.span(s"operators.$q")(ctx.noop(SparkEntry.queries(q)(s, corpus.toString)))))
      }
    })
    (secs, stats.textBytes)
  }

  /** The warm-up pass writes each result for the oracle comparison. */
  override def warmUp(): Unit =
    Chains.check(ctx, spark.newSession(), corpus, Chains.Curate)
}

/** The two declared query chains and their oracle check. */
object Chains {
  val Curate: Seq[String] = Seq("pipe_train_manifest", "dedup_exact", "dedup_minhash_lsh",
    "dedup_cdc", "dedup_semantic", "txt_gopher_rules", "txt_c4_rules",
    "txt_quality_classifier", "txt_decontaminate", "txt_repetition", "sim_ann_ivf",
    "txt_bm25_topk")
  val Refresh: Seq[String] = Seq("dedup_minhash_incremental", "dedup_cdc_incremental",
    "dedup_cdc_purged", "txt_bm25_topk_purged", "sim_ann_lsh_versioned",
    "sim_ann_ivf_versioned", "txt_quality_classifier_incremental",
    "dedup_semantic_incremental")

  /** Writes each query's result to `results/<query>` and its DuckDB
    * oracle SQL to `results/<query>.sql`, which `run.py` compares. Each
    * query counts as one operation; one that throws fails here, one
    * whose result differs from its oracle fails in `run.py`.
    */
  def check(ctx: Ctx, s: org.apache.spark.sql.SparkSession, corpus: Path,
      qs: Seq[String]): Unit = {
    val res = ctx.dir("results")
    qs.foreach { q =>
      ctx.out.op(
        try {
          SparkEntry.queries(q)(s, corpus.toString).coalesce(1).write.mode("overwrite")
            .parquet(res.resolve(q).toString)
          Nil
        } catch { case e: Throwable => Seq(s"$q threw while writing its result: $e") })
    }
    val oracles = SparkEntry.oracleSql ++ SparkEntry.dynamicOracleSql(s, corpus.toString)
    qs.foreach(q => oracles.get(q).foreach(sql => Files.writeString(res.resolve(s"$q.sql"), sql)))
    ctx.out.extra("oracle_corpus") = corpus.toString
    ctx.out.extra("oracle_results") = res.toString
  }
}
