package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own seeded input generators.
  *
  * They copy the distributions of the program's transcript and document
  * generators but never call them, so an edit to the program's generators
  * cannot change a workload. Every value derives from `xxhash64(seed, …)`:
  * the same seed gives the same bytes on any core count.
  *
  * Inputs are restricted to what the program's contracts already pin: every
  * turn text is a grok hit and every tool is in the program's tool dimension.
  */
object Corpus {

  /** The program's tool dimension (enrich joins against it). */
  val Tools: Seq[String] = Seq(
    "search", "browse", "bash", "edit", "read", "write",
    "grep", "glob", "fetch", "sql", "plot", "notebook")

  private val Filler: Seq[String] = Seq(
    "alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
    "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
    "victor", "whiskey", "xray", "yankee", "zulu", "request", "response",
    "payload", "timeout", "retry", "cache", "index", "query", "result",
    "buffer", "stream", "commit", "branch", "merge", "deploy", "build",
    "config", "schema", "column", "table", "cursor", "socket", "thread",
    "handler", "module", "package", "import", "export", "session", "token",
    "parser", "record", "worker", "server", "client", "router", "filter",
    "sample")

  /** Length of the seeded word sequence filler windows are cut from. */
  val FillerWords = 8192

  private def u01(h: Column): Column =
    pmod(h, lit(1000000L)).cast("double") / 1000000.0

  /** Zipf(s = 1.2) size of the conversation at `rank` among `n`, read from the
    * law's quantile function on a stratified grid: the multiset of sizes is
    * the same for every seed (only which conversation gets which size, and
    * all content, depend on the seed), so corpus size does not jitter with
    * the seed.
    */
  def zipfSize(rank: Long, n: Long, cap: Int): Int =
    math.min(cap.toLong, math.floor(math.pow((rank + 0.5) / n, -1.0 / 1.2)).toLong).toInt

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** A seeded permutation of 0..n-1 as an affine map `(a·id + b) mod n`. */
  private def permutation(id: Column, n: Long, seed: Long): Column = {
    val r = new scala.util.Random(seed)
    var a = (r.nextInt(1 << 20).toLong + 1000003L) | 1L
    while (gcd(a, n) != 1) a += 2
    pmod(id * lit(a) + lit(r.nextInt(1 << 20).toLong), lit(n))
  }

  /** Transcript turns `(conv_id, turn_idx, role, text, tool, ts)` plus a
    * `_rank` column (0 = the largest conversation).
    *
    * @param hot     the `hot` largest conversations are raised to `hotMin`
    *                turns when the law gives them fewer
    * @param fillerMin/fillerMax words of seeded filler after `detail:`: a
    *                window, at a seeded offset, of a seeded sequence of
    *                [[FillerWords]] words (one hash per turn, not per word)
    */
  def transcripts(spark: SparkSession, nConvs: Long, seed: Long, cap: Int,
                  hot: Int, hotMin: Int, fillerMin: Int, fillerMax: Int,
                  slices: Int): DataFrame = {
    val convs = spark.range(0L, nConvs, 1L, slices)
      .withColumn("_rank", permutation(col("id"), nConvs, seed))
      .withColumn("conv_id", format_string("conv-%07d", col("id")))
      .withColumn("_zipf", least(lit(cap.toLong), floor(pow(
        (col("_rank") + lit(0.5)) / lit(nConvs.toDouble), lit(-1.0 / 1.2)))).cast("int"))
      .withColumn("n_turns",
        when(col("_rank") < hot, greatest(col("_zipf"), lit(hotMin)))
          .otherwise(col("_zipf")))
      .withColumn("conv_off_s",
        pmod(xxhash64(lit(seed), lit("off"), col("id")), lit(86400L * 30)))
      .withColumn("step_s",
        lit(5L) + pmod(xxhash64(lit(seed), lit("step"), col("id")), lit(55L)))
    val t = convs
      .select(col("conv_id"), col("_rank"), col("conv_off_s"), col("step_s"),
        explode(sequence(lit(0), col("n_turns") - 1)).as("turn_idx"))
      .withColumn("h", xxhash64(lit(seed), col("conv_id"), col("turn_idx")))
    val toolArr = array(Tools.map(lit): _*)
    val r = new scala.util.Random(seed)
    val fillArr = typedLit(Seq.fill(FillerWords)(Filler(r.nextInt(Filler.size))))
    val nFill = lit(fillerMin) + pmod(xxhash64(lit(seed), lit("nf"), col("h")),
      lit((fillerMax - fillerMin + 1).toLong)).cast("int")
    t
      .withColumn("role",
        when(col("turn_idx") === 0 &&
             pmod(xxhash64(lit(seed), lit("sys"), col("conv_id")), lit(10L)) === 0,
          lit("system"))
        .when(pmod(col("turn_idx"), lit(2)) === 0, lit("user"))
        .when(pmod(col("h"), lit(5L)) === 0, lit("tool"))
        .otherwise(lit("assistant")))
      .withColumn("tool",
        when(col("role") === "tool" ||
             (col("role") === "assistant" && pmod(col("h"), lit(4L)) === 1),
          element_at(toolArr, (pmod(xxhash64(lit(seed), lit("tl"), col("h")),
            lit(Tools.size.toLong)) + 1).cast("int")))
        .otherwise(lit("")))
      .withColumn("status",
        when(pmod(xxhash64(lit(seed), lit("er"), col("h")), lit(10L)) === 0,
          format_string("E%d",
            lit(400L) + pmod(xxhash64(lit(seed), lit("ec"), col("h")), lit(300L))))
        .otherwise(lit("OK")))
      .withColumn("latency_ms", pmod(xxhash64(lit(seed), lit("lat"), col("h")), lit(5000L)))
      .withColumn("filler", array_join(slice(fillArr,
        (pmod(xxhash64(lit(seed), lit("fo"), col("h")),
          lit((FillerWords - fillerMax).toLong)) + 1).cast("int"), nFill), " "))
      .withColumn("text",
        format_string("[seq=%d] call tool=%s status=%s latency=%dms detail: %s",
          col("turn_idx"),
          when(col("tool") === "", lit("none")).otherwise(col("tool")),
          col("status"), col("latency_ms"), col("filler")))
      .withColumn("ts",
        (lit(1704067200L) + col("conv_off_s") + col("turn_idx") * col("step_s") +
          pmod(col("h"), col("step_s"))).cast("timestamp"))
      .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
        col("role"), col("text"), col("tool"), col("ts"), col("_rank"))
  }

  /** Documents `(doc_id, lang, text, n_chars)` shaped like the program's
    * curation corpora: ~10% exact duplicates of a template, ~10% near
    * duplicates (~1/50 of words mutated), the rest unique; length Zipf-ish
    * in [20, 300] words; language skewed over five values.
    */
  def docs(spark: SparkSession, nDocs: Long, seed: Long, slices: Int): DataFrame = {
    val nTpl = math.max(1L, nDocs / 100L)
    val langArr = array(Seq("en", "en", "en", "es", "de", "fr", "it").map(lit): _*)
    val base = spark.range(0L, nDocs, 1L, slices)
      .withColumn("h", xxhash64(lit(seed), col("id")))
      .withColumn("kind", pmod(col("h"), lit(10L)))
      .withColumn("tpl", pmod(xxhash64(lit(seed), lit("tpl"), col("id")), lit(nTpl)))
      .withColumn("ck",
        when(col("kind") <= 1, xxhash64(lit(seed), lit("t"), col("tpl")))
          .otherwise(xxhash64(lit(seed), lit("u"), col("id"))))
      .withColumn("_u", u01(xxhash64(col("ck"), lit("len"))))
      .withColumn("len", least(lit(300), greatest(lit(20),
        floor(lit(20.0) * pow(col("_u") + lit(1e-9), lit(-0.55))).cast("int"))))
      .withColumn("lang", element_at(langArr,
        (pmod(xxhash64(lit(seed), lit("lg"), col("ck")), lit(7L)) + 1).cast("int")))
    val word = (i: Column) => {
      val tplWord = format_string("w%d", pmod(xxhash64(col("ck"), i), lit(9973L)))
      val mutated = col("kind") === 1 &&
        pmod(xxhash64(lit(seed), lit("mu"), col("id"), i), lit(50L)) === 0
      when(mutated, format_string("m%d",
        pmod(xxhash64(lit(seed), lit("mw"), col("id"), i), lit(9973L))))
        .otherwise(tplWord)
    }
    base
      .withColumn("text", concat_ws(" ", transform(sequence(lit(0), col("len") - 1), word)))
      .select(col("id").as("doc_id"), col("lang"), col("text"),
        length(col("text")).cast("long").as("n_chars"))
  }

  /** A few dozen in-memory turns for warm-ups. */
  def tinyTurns(spark: SparkSession): DataFrame = {
    val rows = (0 until 48).map { i =>
      val tool = if (i % 3 == 1) Tools(i % Tools.size) else ""
      val status = if (i % 7 == 0) s"E${500 + i}" else "OK"
      org.apache.spark.sql.Row(s"conv-${i / 6}", i % 6,
        Seq("user", "assistant", "tool", "system")(i % 4),
        s"[seq=${i % 6}] call tool=${if (tool.isEmpty) "none" else tool} status=$status " +
          s"latency=${i * 37}ms detail: alpha bravo", tool,
        new java.sql.Timestamp(1704067200000L + i * 1000L))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), graft.Schemas.turn)
  }

  /** Warm the transcript path: transform and partials on tiny input. */
  def warmTranscriptPath(spark: SparkSession): Unit = {
    val routed = graft.Pipeline.transform(tinyTurns(spark),
      graft.TranscriptGen.roleDim(spark).toDF(), graft.TranscriptGen.toolDim(spark).toDF())
    graft.Aggregate.partials(routed).collect()
  }

  /** Rows and the xor of every row's all-column hash: a cheap digest that
    * changes with any value.
    */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Rows, xor and sum (of the low 32 bits) of every row's hash over
    * `cols`. Two frames hold the same multiset of rows on `cols` exactly
    * when these agree, up to a hash collision: a missing, extra or changed
    * row moves the count or both sums.
    */
  def multiset(df: DataFrame, cols: Seq[Column]): (Long, Long, Long) = {
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L)),
        coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Build `dir` once per seed: `make` writes into a temporary directory,
    * whose digest (of the frame `read` gives for it) is stored as
    * `_DIGEST`; it is renamed into place only when complete. Returns
    * seconds spent generating (0 when cached).
    */
  def cached(dir: String, read: String => DataFrame)(make: String => Unit): Double = {
    if (new File(dir, "_DONE").exists()) return 0.0
    val t0 = System.nanoTime()
    val tmp = dir + ".tmp"
    Files.createDirectories(Paths.get(tmp).getParent)
    deleteTree(new File(tmp)); deleteTree(new File(dir))
    make(tmp)
    val (rows, xor) = digest(read(tmp))
    writeText(s"$tmp/_DIGEST", s"$rows $xor")
    Files.write(Paths.get(tmp, "_DONE"), Array.emptyByteArray)
    Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    (System.nanoTime() - t0) / 1e9
  }

  /** The (rows, xor) digest [[cached]] stored for `dir`. */
  def readDigest(dir: String): (Long, Long) = {
    val Array(rows, xor) = readText(s"$dir/_DIGEST").trim.split(" ")
    (rows.toLong, xor.toLong)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def writeText(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  def readText(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  /** (data files, bytes) under `dir`, skipping hidden and marker files. */
  def filesAndBytes(dir: String): (Long, Long) = {
    var files = 0L; var bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (!f.getName.startsWith(".") && !f.getName.startsWith("_")) {
        files += 1; bytes += f.length()
      }
    walk(new File(dir))
    (files, bytes)
  }
}
