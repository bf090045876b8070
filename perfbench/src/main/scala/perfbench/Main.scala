package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark harness entry point.
  *
  * {{{
  * Main --workload ingest|rescan|curate --seed N --seconds S --trace 0|1
  *      --work DIR [--smoke 1]
  * }}}
  *
  * Runs one workload for about S seconds of timed operations on
  * `local[4]`, checks every operation's outputs, and writes
  * `DIR/result.json`: the metrics, `attempted`/`failed` counts, and
  * for the query chains the result and oracle files that the DuckDB
  * comparison in `run.py` reads. With `--trace 1` it also writes the
  * spans to `DIR/spans.json` and reports the per-layer metrics.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, smoke: Boolean)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")).toAbsolutePath, m.get("smoke").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.work)
    val sizes = if (args.smoke) Sizes.smoke else Sizes.full
    val (spark, setupS) = Setup.repeated(args, jvmStartMs)
    val out = new Result
    out.metric("setup_s", "s", Stats.median(setupS))
    out.metric("setup.runs", "count", setupS.length)
    val ctx = new Ctx(spark, args, sizes, out)
    try {
      val w = Workload(ctx)
      w.run()
      if (args.trace) Layers.run(ctx, w)
      out.metric("process.rss_peak_mb", "MB", Stats.rssPeakMb())
    } finally {
      ctx.closeTracer()
      Files.writeString(args.work.resolve("result.json"), out.json)
      spark.stop()
    }
  }
}

/** Input sizes; `smoke` runs the same code paths on tiny inputs. */
final case class Sizes(ingestSmall: Int, ingestLarge: Int, ingestOversize: Int,
    maxFileBytes: Long, rescanHistory: Int, rescanDrop: Int, curateBaseDocs: Int,
    curateBaseVecs: Int, curateCopies: Int, layerCorpusDocs: Int, sampleFiles: Int)

object Sizes {
  val full: Sizes = Sizes(ingestSmall = 200, ingestLarge = 1, ingestOversize = 1,
    maxFileBytes = 3L << 19, rescanHistory = 200, rescanDrop = 100,
    curateBaseDocs = 400, curateBaseVecs = 400, curateCopies = 2,
    layerCorpusDocs = 200, sampleFiles = 100)
  val smoke: Sizes = Sizes(ingestSmall = 12, ingestLarge = 0, ingestOversize = 1,
    maxFileBytes = 40L << 10, rescanHistory = 20, rescanDrop = 10,
    curateBaseDocs = 100, curateBaseVecs = 100, curateCopies = 2,
    layerCorpusDocs = 100, sampleFiles = 10)
}

/** Metrics plus the attempted/failed operation counts. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val extra = mutable.LinkedHashMap.empty[String, String]

  def metric(name: String, unit: String, value: Double): Unit =
    metrics(name) = (value, unit)
  def get(name: String): Option[Double] = metrics.get(name).map(_._1)

  /** Counts one operation; `errs` are its failed checks. */
  def op(errs: Seq[String]): Unit = {
    attempted += 1
    if (errs.nonEmpty) { failed += 1; failures ++= errs.take(5) }
  }

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val ex = extra.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString(", ")
    s"""{"attempted": $attempted, "failed": $failed, "metrics": $ms,""" +
      s""" "failures": ${failures.map(Json.str).mkString("[", ", ", "]")}, "extra": {$ex}}"""
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def seconds(ns: Long): Double = ns / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(System.nanoTime() - t0))
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(Double.NaN)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }
}

/** Session set-up, repeated so the median is steady: the first set-up
  * is timed from JVM start (class loading included), later ones from
  * `stop()` of the previous session. Each builds a `local[4]` session
  * with the engine's SQL extensions and runs one warm-up query through
  * the native codec expression.
  */
object Setup {
  val Runs = 5

  def build(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def warmUp(spark: SparkSession, seed: Long): Unit = {
    import spark.implicits._
    val rng = new java.util.SplittableRandom(seed)
    Seq.fill(64)(Gen.text(rng, 4096)).toDF("content")
      .select(graft.functions.DnaFunctions.dnaProcessNative(spark, 1000, 10)($"content"))
      .write.format("noop").mode("overwrite").save()
  }

  def repeated(args: Main.Args, jvmStartMs: Long): (SparkSession, Seq[Double]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Runs) {
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = build(args.work)
      warmUp(spark, args.seed)
      times += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
        else Stats.seconds(System.nanoTime() - t0))
    }
    (spark, times.toSeq)
  }
}

/** What a workload and the layer scenarios share within one run. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val sizes: Sizes,
    val out: Result) {

  /** The active tracer: disabled until [[startTracing]]. */
  var tracer: Tracer = new Tracer(spark.sparkContext, enabled = false, "off")

  def startTracing(): Unit =
    tracer = new Tracer(spark.sparkContext, enabled = true, s"seed${args.seed}")

  /** Detaches the tracer and writes its spans. */
  def closeTracer(): Unit = if (tracer.enabled) {
    tracer.close()
    Files.writeString(args.work.resolve("spans.json"), tracer.json)
  }

  private val t0 = System.nanoTime()

  /** A progress line on stderr, with seconds since the workload began. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def dir(name: String): Path = {
    val p = args.work.resolve(name)
    Files.createDirectories(p)
    p
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs `op` until its timed seconds add up to `args.seconds` (at
    * least once), returning each call's timed seconds and value.
    */
  def window[T](op: Int => (Double, T)): Seq[(Double, T)] = {
    val res = mutable.ArrayBuffer.empty[(Double, T)]
    var spent = 0.0
    var i = 0
    while (res.isEmpty || spent < args.seconds) {
      val r = op(i)
      note(f"operation $i: ${r._1}%.3f s")
      res += r; spent += r._1; i += 1
    }
    res.toSeq
  }
}
