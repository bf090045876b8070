package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.functions.{col, concat, explode, lit}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.codec.{DnaCodec, Goldman, ReedSolomon, Utf8Chunker}
import graft.functions.DnaFunctions
import graft.operators.Lexical
import graft.streaming.FilePipeline

/** Spark engine counters of the workload's timed operations (traced
  * window), per operation.
  */
object Engine {
  def report(ctx: Ctx, ops: Seq[Span]): Unit = {
    org.apache.spark.sql.SparkInternals.drainListenerBus(ctx.spark.sparkContext)
    val c = new Counters
    ops.foreach(s => c += ctx.tracer.totalCounters(s))
    val n = math.max(ops.length, 1).toDouble
    val wall = ops.map(s => s.endNs - s.startNs).sum / 1e9
    val o = ctx.out
    o.metric("spark.jobs", "count", c.jobs / n)
    o.metric("spark.stages", "count", c.stages / n)
    o.metric("spark.tasks", "count", c.tasks / n)
    o.metric("spark.executor_cpu_s", "s", c.cpuNs / 1e9 / n)
    o.metric("spark.executor_run_s", "s", c.runMs / 1e3 / n)
    o.metric("spark.gc_s", "s", c.gcMs / 1e3 / n)
    o.metric("spark.planning_s", "s", c.planningMs / 1e3 / n)
    o.metric("spark.input_bytes", "B", c.inputBytes / n)
    o.metric("spark.output_bytes", "B", c.outputBytes / n)
    o.metric("spark.shuffle_write_bytes", "B", c.shuffleWriteBytes / n)
    o.metric("spark.spill_bytes", "B", c.spillBytes / n)
    o.metric("spark.core_busy", "ratio", c.runMs / 1e3 / (wall * Cores))
  }

  val Cores = 4
}

/** The per-layer scenarios of a traced run. Each times one public call
  * of a layer, inside a span named `<layer>.<call>`, on this workload's
  * own texts (or documents corpus).
  */
object Layers {
  private val ChunkSize = 1000
  private val Nsym = 10

  def run(ctx: Ctx, w: Workload): Unit = {
    val texts = w.sampleTexts
    codec(ctx, texts)
    plans(ctx, texts)
    streaming(ctx, texts)
    val corpus = w.corpusDir.getOrElse {
      val d = ctx.dir("layer_corpus")
      Gen.curateCorpus(ctx.spark, d, ctx.args.seed, ctx.sizes.layerCorpusDocs,
        ctx.sizes.layerCorpusDocs / 2, 1)
      d
    }
    operators(ctx, corpus, curateTimed = w.corpusDir.isDefined)
    lifecycle(ctx, corpus)
    val out = ctx.out
    out.get("mb_s").zip(out.get("codec.process_mb_s")).foreach { case (e2e, k) =>
      out.metric("kernel_efficiency", "ratio", e2e / (Engine.Cores * k))
    }
    val t = ctx.tracer
    t.all.groupBy(_.name.takeWhile(_ != '.')).foreach { case (layer, spans) =>
      out.metric(s"self.${layer}_s", "s", spans.map(t.selfNs).sum / 1e9)
    }
  }

  /** Calls `body` once untimed, then repeats it until `minS` seconds
    * have passed; returns seconds per call.
    */
  private def rate(minS: Double)(body: => Unit): Double = {
    body
    var n = 0
    val t0 = System.nanoTime()
    var el = 0.0
    while (el < minS) { body; n += 1; el = (System.nanoTime() - t0) / 1e9 }
    el / n
  }

  /** Single-threaded codec calls on the Spark driver thread. */
  def codec(ctx: Ctx, texts: Seq[String]): Unit = {
    val t = ctx.tracer
    val mb = texts.map(_.getBytes(UTF_8).length.toLong).sum / 1e6
    val chunks = texts.flatMap(Utf8Chunker.chunkBytes(_, ChunkSize))
    val dnas = chunks.map(Goldman.bytesToDna)
    val blobs = texts.map(_.getBytes(UTF_8))
    def m(name: String)(body: => Unit): Unit = {
      val s = t.span(s"codec.$name")(rate(0.3)(body))
      ctx.out.metric(s"codec.${name}_mb_s", "MB/s", mb / s)
    }
    m("process")(texts.foreach(DnaCodec.processText(_, ChunkSize, Nsym)))
    m("utf8_chunk")(texts.foreach(Utf8Chunker.chunkBytes(_, ChunkSize)))
    m("goldman_encode")(chunks.foreach(Goldman.bytesToDna))
    m("goldman_decode")(dnas.zip(chunks).foreach { case (d, c) => Goldman.dnaToBytes(d, c.length) })
    m("rs_parity")(chunks.foreach(ReedSolomon.parity(_, Nsym)))
    m("md5")(blobs.foreach(DnaCodec.md5Hex))
  }

  /** The kernels through Spark to noop over an in-memory frame, against
    * the identity projection of the same frame.
    */
  def plans(ctx: Ctx, texts: Seq[String]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val mb = texts.map(_.getBytes(UTF_8).length.toLong).sum / 1e6
    val df = texts.toDF("content").repartition(Engine.Cores).cache()
    df.count()
    def m(name: String)(q: => org.apache.spark.sql.DataFrame): Unit = {
      val times = (0 until 3).map(_ => Stats.timed(ctx.tracer.span(name)(ctx.noop(q)))._2)
      ctx.out.metric(s"${name}_mb_s", "MB/s", mb / Stats.median(times))
    }
    m("plans.identity")(df.select($"content"))
    m("plans.dna_process")(df.select(
      DnaFunctions.dnaProcessNative(spark, ChunkSize, Nsym)($"content").as("r")))
    m("functions.dna_chunks")(df.select(
      explode(DnaFunctions.dnaChunks(ChunkSize, Nsym)($"content")).as("c")))
    df.unpersist()
  }

  /** `FilePipeline` public calls on a drop of the sample texts, each
    * twice on fresh directories; the run overhead is the
    * streaming `run` minus `processBatch(readFilesBatch)` on the same
    * drop.
    */
  def streaming(ctx: Ctx, texts: Seq[String]): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val cfg = Workload.config(ctx.sizes)
    val in = ctx.dir("layer_drop")
    texts.zipWithIndex.foreach { case (x, i) => Gen.write(in, f"layer_$i%04d.txt", x) }
    val times = scala.collection.mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    def m(name: String)(body: => Unit): Unit =
      times(name) = times(name) :+ Stats.timed(t.span(s"streaming.$name")(body))._2
    for (i <- 0 until 2) {
      val root = ctx.dir(s"layer_stream_$i")
      val a = Workload.dirs(root.resolve("a"), in, chunks = false)
      val b = Workload.dirs(root.resolve("b"), in, chunks = false)
      m("read_files")(ctx.noop(FilePipeline.readFilesBatch(spark, in.toString)))
      m("process_batch")(FilePipeline.processBatch(spark,
        FilePipeline.readFilesBatch(spark, in.toString), a, cfg))
      val tracking = FilePipeline.ParquetTracking(a.tracking)
      m("known_hashes")(ctx.noop(tracking.knownHashes(spark)))
      val tracked = FilePipeline.readFilesBatch(spark, in.toString)
        .select(col("file_hash"), col("file_path"), col("file_size"),
          lit("completed").as("status"), concat(lit("processed_"), col("filename")).as("output_file"))
      val rows = spark.createDataFrame(
        java.util.Arrays.asList(tracked.collect(): _*), tracked.schema)
      m("tracking_upsert")(FilePipeline.ParquetTracking(root.resolve("upsert").toString)
        .upsert(spark, rows))
      m("run") {
        val q = FilePipeline.run(spark, b, cfg, Trigger.AvailableNow())
        t.adopt(q.runId.toString)
        q.awaitTermination()
      }
      Stats.deleteTree(root)
    }
    times.foreach { case (k, v) => ctx.out.metric(s"streaming.${k}_s", "s", Stats.median(v)) }
    ctx.out.metric("streaming.run_overhead_s", "s",
      Stats.median(times("run")) - Stats.median(times("process_batch")))
  }

  /** The declared chains in a fresh session, one span per query. On the
    * curate workload the curate chain was already timed by the traced
    * window; elsewhere both chains run here once, on a small corpus.
    * The refresh chain's results are checked against their oracles in
    * smoke runs only: at full size those oracles take longer than a
    * run may.
    */
  def operators(ctx: Ctx, corpus: Path, curateTimed: Boolean): Unit = {
    val t = ctx.tracer
    val s = ctx.spark.newSession()
    def chain(name: String, qs: Seq[String]): Unit = t.span(s"operators.$name") {
      qs.foreach { q =>
        ctx.out.op(try { t.span(s"operators.$q")(ctx.noop(SparkEntry.queries(q)(s, corpus.toString))); Nil }
          catch { case e: Throwable => Seq(s"$q threw: $e") })
      }
    }
    if (!curateTimed) chain("curate_chain", Chains.Curate)
    chain("refresh_chain", Chains.Refresh)
    if (ctx.args.smoke) Chains.check(ctx, s, corpus, Chains.Refresh)
    val spans = t.all
    (Chains.Curate ++ Chains.Refresh ++ Seq("curate_chain", "refresh_chain")).foreach { q =>
      val ds = spans.filter(_.name == s"operators.$q").map(x => (x.endNs - x.startNs) / 1e9)
      if (ds.nonEmpty) ctx.out.metric(s"operators.${q}_s", "s", Stats.median(ds))
    }
  }

  /** The Lexical versioned family: build, append, delete, compact,
    * serve, on the corpus.
    */
  def lifecycle(ctx: Ctx, corpus: Path): Unit = {
    val s = ctx.spark.newSession()
    import s.implicits._
    val t = ctx.tracer
    val root = ctx.args.work.resolve("lexver").toString
    val docs = s.read.parquet(corpus.resolve("documents.parquet").toString)
    val maxId = docs.agg(org.apache.spark.sql.functions.max($"doc_id")).head().getLong(0)
    val rng = new java.util.SplittableRandom(ctx.args.seed)
    val words = docs.select("text").limit(200).collect().map(_.getString(0))
    val batch = words.indices.map(i => (maxId + 1 + i, words(rng.nextInt(words.length)) + " fresh"))
      .toDF("doc_id", "text")
    def m(name: String)(body: => Unit): Unit =
      ctx.out.metric(s"lifecycle.${name}_s", "s", Stats.timed(t.span(s"lifecycle.$name")(body))._2)
    m("build")(Lexical.writeLexIndexVersioned(s, corpus.toString, root))
    m("append")(Lexical.appendToLexIndexVersioned(s, root, batch))
    m("delete")(Lexical.deleteFromLexIndexVersioned(s, root, docs.select($"doc_id")
      .filter($"doc_id" % 7 === 3)))
    m("compact")(Lexical.compactLexIndexVersioned(s, root))
    m("serve")(ctx.noop(Lexical.bm25ForVersioned(s, root,
      Lexical.ServeQueries.toDF("query_id", "term"))))
    ctx.out.metric("lifecycle.bytes_written", "B", Stats.dirBytes(Paths.get(root)).toDouble)
  }
}
