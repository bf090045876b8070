package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

/** Seeded, single-threaded input generators. The same seed gives the
  * same bytes; the program under test only ever sees the files and
  * tables written here.
  */
object Gen {

  /** ASCII vocabulary of the file workloads: 1,600 pronounceable
    * words spread over the whole syllable space, so chunk contents do
    * not repeat the way a tiny vocabulary would.
    */
  private val asciiWords: Array[String] = {
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v")
    val nu = Array("a", "e", "i", "o", "u")
    val co = Array("", "n", "r", "s", "t", "x")
    (for (a <- on; b <- nu; c <- on; d <- nu; e <- co) yield a + b + c + d + e)
      .zipWithIndex.collect { case (w, i) if i % 18 == 0 => w }.take(1600).toArray
  }

  /** Multibyte tokens: 2-byte Latin, 3-byte CJK/Hangul, 4-byte
    * astral-plane code points (emoji, mathematical letters) — every
    * UTF-8 length class the chunker must not split.
    */
  private val multibyteWords: Array[String] = Array(
    "café", "niño", "über", "façade", "smørrebrød", "Ελλάδα", "привет",
    "数据", "处理管道", "東京", "한국어", "テキスト", "ไทย",
    "😀", "🚀✨", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢", "𐍈𐌰", "🧬🧪")

  /** Share of tokens drawn from [[multibyteWords]]. */
  val MultibyteTokenShare = 0.05

  /** Text of about `bytes` UTF-8 bytes: lines of 6–16 tokens. */
  def text(rng: SplittableRandom, bytes: Int): String = {
    val sb = new java.lang.StringBuilder(bytes + 64)
    var n = 0
    while (n < bytes) {
      val line = 6 + rng.nextInt(11)
      var i = 0
      while (i < line) {
        val w =
          if (rng.nextDouble() < MultibyteTokenShare)
            multibyteWords(rng.nextInt(multibyteWords.length))
          else asciiWords(rng.nextInt(asciiWords.length))
        if (i > 0) { sb.append(' '); n += 1 }
        sb.append(w); n += w.getBytes(UTF_8).length
        i += 1
      }
      sb.append('\n'); n += 1
    }
    sb.toString
  }

  /** Log-uniform random size in [lo, hi). */
  def logUniform(rng: SplittableRandom, lo: Int, hi: Int): Int =
    math.exp(math.log(lo) + rng.nextDouble() * (math.log(hi) - math.log(lo))).toInt

  def write(dir: Path, name: String, content: String): Long = {
    val b = content.getBytes(UTF_8)
    Files.write(dir.resolve(name), b)
    b.length.toLong
  }

  /** Measured properties of a generated file set. */
  case class FileStats(files: Int, bytes: Long, bytesInLargeFiles: Long,
      multibyteBytes: Long, multibyteTokens: Long, tokens: Long) {
    def +(o: FileStats): FileStats = FileStats(files + o.files, bytes + o.bytes,
      bytesInLargeFiles + o.bytesInLargeFiles, multibyteBytes + o.multibyteBytes,
      multibyteTokens + o.multibyteTokens, tokens + o.tokens)
  }
  object FileStats { val empty: FileStats = FileStats(0, 0, 0, 0, 0, 0) }

  def statsOf(content: String): FileStats = {
    val b = content.getBytes(UTF_8).length.toLong
    var mbBytes = 0L
    var i = 0
    while (i < content.length) {
      val cp = content.codePointAt(i)
      if (cp >= 0x80) mbBytes += new String(Character.toChars(cp)).getBytes(UTF_8).length
      i += Character.charCount(cp)
    }
    val toks = content.split("\\s+").filter(_.nonEmpty)
    FileStats(1, b, if (b > (1 << 20)) b else 0L, mbBytes,
      toks.count(_.exists(_ >= 0x80)).toLong, toks.length.toLong)
  }

  // ------------------------------------------------------------------
  // ingest: one heavy-tailed corpus of distinct files

  case class IngestCorpus(dir: Path, files: Seq[String], oversize: Set[String],
      stats: FileStats)

  /** `small` files of 2–32 KB (log-uniform), `large` files of 1.2 MB
    * that make one task a straggler, and `oversize` files just over
    * `maxFileBytes` that must be dead-lettered. The sizes are the
    * distribution's quantiles in a seeded order, so seeds change the
    * contents and their order but not the size profile. Every content
    * is distinct (a per-file header line makes it so).
    */
  def ingestCorpus(dir: Path, seed: Long, small: Int, large: Int,
      oversize: Int, maxFileBytes: Long): IngestCorpus = {
    Files.createDirectories(dir)
    val rng = new SplittableRandom(seed)
    val smallSizes = (0 until small).map { i =>
      math.exp(math.log(2 << 10) + (i + 0.5) / small * math.log(16)).toInt
    }
    val shuffled = smallSizes.map(x => (rng.nextLong(), x)).sortBy(_._1).map(_._2)
    val sizes = shuffled ++ Seq.fill(large)(1200 << 10) ++
      Seq.fill(oversize)(maxFileBytes.toInt + (32 << 10))
    val names = sizes.indices.map(i => f"doc_$i%05d.txt")
    var stats = FileStats.empty
    val over = Set.newBuilder[String]
    names.zip(sizes).zipWithIndex.foreach { case ((name, size), i) =>
      val content = s"file $i seed $seed\n" + text(rng, size)
      write(dir, name, content)
      stats = stats + statsOf(content)
      if (i >= small + large) over += name
    }
    IngestCorpus(dir, names, over.result(), stats)
  }

  // ------------------------------------------------------------------
  // rescan: a history batch, then drops that are mostly re-dropped
  // content under new names

  final class RescanSource(seed: Long) {
    private val rng = new SplittableRandom(seed)
    private val known = scala.collection.mutable.ArrayBuffer.empty[String]
    private var serial = 0
    private def fresh(): String = {
      serial += 1
      s"new $serial seed $seed\n" + text(rng, logUniform(rng, 512, 4 << 10))
    }

    /** `n` distinct new files. */
    def history(dir: Path, n: Int): FileStats = {
      Files.createDirectories(dir)
      var st = FileStats.empty
      for (i <- 0 until n) {
        val c = fresh(); known += c
        write(dir, f"hist_$i%05d.txt", c); st = st + statsOf(c)
      }
      st
    }

    /** One drop of `n` files: each a re-drop of tracked content with
      * probability `dupShare`, else new content. Returns the drop's
      * stats and how many of its files carry new content.
      */
    def drop(dir: Path, id: Int, n: Int, dupShare: Double): (FileStats, Int) = {
      Files.createDirectories(dir)
      var st = FileStats.empty
      var newCount = 0
      val added = scala.collection.mutable.ArrayBuffer.empty[String]
      for (i <- 0 until n) {
        val c =
          if (rng.nextDouble() < dupShare) known(rng.nextInt(known.length))
          else { newCount += 1; val f = fresh(); added += f; f }
        write(dir, f"drop_$id%04d_$i%04d.txt", c); st = st + statsOf(c)
      }
      known ++= added
      (st, newCount)
    }
  }

  // ------------------------------------------------------------------
  // curate: a documents/embeddings corpus shaped like the reference
  // fixture, upsampled with the structure-preserving copy scheme of
  // tools/make_sf1.py

  private val docWords = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val langs = Array("zh", "es", "fr", "de")

  case class CorpusStats(docs: Int, nearDupDocs: Int, exactDupDocs: Int,
      vectors: Int, textBytes: Long)

  /** `baseDocs` documents of 10–100 tokens (5% are an earlier document
    * plus a trailing `dup` token, 0.2% exact copies), `baseVecs` unit
    * vectors of dimension 64 with labels 0–9; then `copies` copies of
    * both, copy k renaming every token by suffixing k (zero shared
    * vocabulary across copies) and rotating every vector by 5k.
    */
  def curateCorpus(spark: SparkSession, dir: Path, seed: Long, baseDocs: Int,
      baseVecs: Int, copies: Int): CorpusStats = {
    import spark.implicits._
    val rng = new SplittableRandom(seed)
    val base = scala.collection.mutable.ArrayBuffer.empty[(String, String, Int)]
    var nearDup = 0
    var exactDup = 0
    for (i <- 0 until baseDocs) {
      val r = rng.nextDouble()
      val text =
        if (i > 0 && r < 0.05) { nearDup += 1; base(rng.nextInt(i))._1 + " dup" }
        else if (i > 0 && r < 0.052) { exactDup += 1; base(rng.nextInt(i))._1 }
        else Seq.fill(10 + rng.nextInt(91))(docWords(rng.nextInt(docWords.length)))
          .mkString(" ")
      val lang = if (rng.nextDouble() < 0.41) "en" else langs(rng.nextInt(langs.length))
      base += ((text, lang, i % 20))
    }
    val docs = for (k <- 0 until copies; (b, i) <- base.zipWithIndex) yield {
      val t = if (k == 0) b._1 else b._1.split(" ").map(_ + k).mkString(" ")
      (i.toLong + k.toLong * baseDocs, t, b._2, s"src${b._3}", t.length.toLong)
    }
    val vecs0 = Seq.fill(baseVecs) {
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (v.map(x => (x / n).toFloat), rng.nextInt(10))
    }
    val vecs = for (k <- 0 until copies; ((v, label), i) <- vecs0.zipWithIndex) yield {
      val rot = (5 * k) % 64
      (i.toLong + k.toLong * baseVecs, (v.drop(rot) ++ v.take(rot)).toSeq, label)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.parquet(dir.resolve("documents.parquet").toString)
    vecs.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
    CorpusStats(docs.length, nearDup * copies, exactDup * copies, vecs.length,
      docs.map(_._2.getBytes(UTF_8).length.toLong).sum)
  }
}
