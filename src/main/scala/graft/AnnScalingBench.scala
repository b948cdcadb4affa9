package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-efficiency evidence for the ANN family — the same
  * two-parallelism-level protocol as [[ScalingBench]] /
  * [[CurationScalingBench]] (BASELINE.md), over a multi-million-vector
  * [[VecGen]] corpus: `Similarity` / `Ivf` / `Pq` were previously argued
  * scale-safe from plan shape but only ever MEASURED on the 500-row sf
  * embeddings table.
  *
  * Stages timed independently (IoListener bytes reset per stage), each a
  * production step over a DURABLE artifact, not an in-memory convenience:
  *  - bruteforce: exact top-k of nQ broadcast queries over the full
  *    corpus — the recall-1.0 baseline every ANN row is judged against.
  *  - ivf_build:  [[graft.ops.Ivf.writeIndex]] — Lloyd-refined coarse
  *    quantizer + corpus written partitionBy(cell).
  *  - ivf_probe:  [[graft.ops.Ivf.probeIndex]] at nProbe/nCells = 1/8 —
  *    the partition-pruned scan (IO ratio, not filter ratio).
  *  - pq_encode:  [[graft.ops.Pq.encode]] of the full corpus (codebooks
  *    trained untimed on a 5% hash sample — standard PQ practice; training
  *    cost amortizes across corpora) written as the durable (id, codes)
  *    compressed index.
  *  - pq_adc:     [[graft.ops.Pq.pqTopKEncoded]] — ADC scoring of every
  *    code row against broadcast per-query LUTs, O(m) per candidate.
  *  - pq_rerank:  [[graft.ops.Pq.pqTopKReranked]] — ADC shortlist (30·k)
  *    then exact-cosine rerank of only those candidates (the production
  *    retrieval pattern; quantized scores cannot resolve near-ties).
  *
  * Each level also reports measured recall@k vs the brute-force baseline
  * for the ivf_probe and pq_adc result sets — the quality number that
  * makes the speed numbers meaningful (reported per level, not asserted
  * equal across levels: Lloyd means merge float partials in
  * Spark-unpinned order, so cell boundaries may differ in the last ulp).
  *
  * Protocol notes carried from the other scaling benches: corpus written
  * ONCE (untimed) to tmpfs and scanned by the timed job; fresh JVM per
  * parallelism level (lo == hi single-level mode) is the honest protocol —
  * pair levels within one calm window, best-of-2 warm runs per level.
  */
object AnnScalingBench
    extends BenchHarness.Scaling("ann", "vecs", 1000000L) {

  private val Dim = 64
  private val K = 10
  private val NQ = 64
  private val NCells = 64
  private val NProbe = 8
  private val M = 8      // PQ subspaces (dsub = 8)
  private val Ksub = 16  // codewords per subspace
  private val Shortlist = 300 // rerank ADC shortlist (30·k)

  /** Latent clusters scale with the corpus (~200 members each) so the
    * neighborhood structure — and therefore recall@k — is comparable
    * across corpus sizes (a fixed cluster count would grow each cluster
    * linearly with n and silently dilute every method's recall).
    */
  private def clustersFor(nVecs: Long): Int =
    math.max(64, (nVecs / 200L).toInt)

  /** Shuffle partitions sized to DATA, identical at every level (see
    * [[CurationScalingBench.partitions]]); vector rows are ~4× smaller
    * than document rows, so 4× the rows per task.
    */
  override def partitions(nVecs: Long, cores: Int): Int =
    math.max(cores, (nVecs / 125000L).toInt)

  private def topkPairs(df: DataFrame): Set[(Long, Long)] =
    df.select(col("query_id").cast("long"), col("id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** The vector corpus at one parallelism level, its durable ivf/pq
    * artifacts under `workDir`, and every stage over them.
    */
  final class Vecs(spark: SparkSession, nVecs: Long, corpusDir: String) {
    val workDir = s"$corpusDir-ann"
    def corpus: DataFrame = spark.read.parquet(corpusDir)
    def queries: DataFrame = corpus.where(col("vec_id") < NQ)

    // codebooks: untimed, trained on a ~5% deterministic hash sample
    // (lazy — a stage subset without pq stages never trains them)
    lazy val cb = graft.ops.Pq.train(
      corpus.where(pmod(xxhash64(col("vec_id"), lit(3L)), lit(20L)) === 0),
      "vec_id", "embedding", M, Ksub, iters = 1)

    def bfRun(): Unit = {
      val n = graft.ops.Similarity.bruteForceTopK(corpus, "vec_id",
        "embedding", queries, "vec_id", "embedding", K).count()
      require(n == NQ.toLong * K, s"bruteforce rows: $n")
    }
    def ivfBuildRun(): Unit =
      graft.ops.Ivf.writeIndex(corpus, "vec_id", "embedding",
        s"$workDir/ivf", nCells = NCells, kmeansIters = 1)
    private def ivfProbe = graft.ops.Ivf.probeIndex(spark, s"$workDir/ivf",
      queries, "vec_id", "embedding", K, nProbe = NProbe)
    def ivfProbeRun(): Unit = {
      val n = ivfProbe.count()
      require(n == NQ.toLong * K, s"ivf_probe rows: $n")
    }
    def pqEncodeRun(): Unit =
      graft.ops.Pq.encode(corpus, "vec_id", "embedding", cb)
        .write.mode("overwrite").parquet(s"$workDir/pq")
    private def pqAdc = graft.ops.Pq.pqTopKEncoded(
      spark.read.parquet(s"$workDir/pq"),
      queries, "vec_id", "embedding", cb, K)
    def pqAdcRun(): Unit = {
      val n = pqAdc.count()
      require(n == NQ.toLong * K, s"pq_adc rows: $n")
    }
    private def pqRerank = graft.ops.Pq.pqTopKReranked(
      spark.read.parquet(s"$workDir/pq"), corpus, "vec_id",
      "embedding", queries, "vec_id", "embedding", cb, K,
      shortlist = Shortlist)
    def pqRerankRun(): Unit = {
      val n = pqRerank.count()
      require(n == NQ.toLong * K, s"pq_rerank rows: $n")
    }

    def semDedupRun(): Unit = {
      // SemDeDup over the clustered corpus: sampled quantizer
      // (iters=0 — the Lloyd cost is ivf_build's row), capped in-cell
      // cosine pairs, CC keep-set; the low-noise latent clusters make
      // most cells near-cliques, so this measures the op at its
      // densest realistic edge volume
      val out = graft.ops.Dedup.semanticDedup(corpus, "vec_id",
        "embedding", nCells = clustersFor(nVecs), threshold = 0.9,
        kmeansIters = 0)
      val (total, kept) = {
        val r = out.agg(count(lit(1)), count_if(col("keep"))).head()
        (r.getLong(0), r.getLong(1))
      }
      require(total == nVecs, s"semdedup rows: $total != $nVecs")
      require(kept > 0 && kept < nVecs, s"semdedup kept $kept of $nVecs")
    }

    def knnGraphRun(): Unit = {
      // approximate KNN GRAPH: every corpus row is its own query — the
      // heaviest self-join shape in the family (≈ rows × (planes+1)
      // probes × avg-bucket candidates); cap + salt bound hot buckets.
      // planes sized so avg bucket ≈ corpus/2^planes stays ~60 rows.
      val n = graft.ops.Similarity.knnGraphLsh(corpus, "vec_id",
        "embedding", k = K, planes = 12, bucketCap = 2048, salt = 4)
        .count()
      require(n > 0, s"knn_graph rows: $n")
    }

    /** recall@k vs brute force (untimed; nQ × k rows per side) of each
      * probe stage that ran — its artifact was built or checked this run.
      */
    def recall(ran: Seq[String]): Map[String, String] = {
      val probes = Map("ivf_probe" -> (() => ivfProbe),
        "pq_adc" -> (() => pqAdc), "pq_rerank" -> (() => pqRerank))
        .filter { case (s, _) => ran.contains(s) }
      if (probes.isEmpty) Map.empty else {
        val bf = topkPairs(graft.ops.Similarity.bruteForceTopK(corpus,
          "vec_id", "embedding", queries, "vec_id", "embedding", K))
        probes.map { case (s, probe) =>
          val r = (topkPairs(probe()) & bf).size.toDouble / bf.size
          s -> f""""recall_at_$K":$r%.3f"""
        }
      }
    }
  }

  type Corpus = Vecs
  // build stages run (warm + timed) before their probe stages read
  val stages: Seq[(String, Vecs => Unit)] = Seq(
    "bruteforce" -> (_.bfRun()),
    "ivf_build" -> (_.ivfBuildRun()),
    "ivf_probe" -> (_.ivfProbeRun()),
    "pq_encode" -> (_.pqEncodeRun()),
    "pq_adc" -> (_.pqAdcRun()),
    "pq_rerank" -> (_.pqRerankRun()),
    "semdedup" -> (_.semDedupRun()),
    "knn_graph" -> (_.knnGraphRun()))
  // semdedup/knn_graph are opt-in: the historical 6-stage full run (the
  // published ANN table) stays reproducible as-is
  val defaults: Seq[String] = stages.map(_._1)
    .filterNot(Set("semdedup", "knn_graph"))
  override def header: Seq[(String, String)] = Seq("dim" -> Dim.toString)

  def open(spark: SparkSession, a: BenchHarness.Args): Vecs = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_VECS_DIR",
      s"/dev/shm/graft-vecs-${a.n}")
    BenchHarness.writeOnce(dir)(
      VecGen.vecs(spark, a.n, Dim, nClusters = clustersFor(a.n))
        .drop("cluster").repartition(128)
        .write.mode("overwrite").parquet(dir))
    val v = new Vecs(spark, a.n, dir)
    // a probe without its build would silently time probes against
    // whatever STALE artifact a previous run left in the persistent
    // workDir — make the dependency explicit
    def needs(probe: String, build: String, artifact: String): Unit =
      if (a.stages.contains(probe) && !a.stages.contains(build))
        require(new java.io.File(s"${v.workDir}/$artifact").exists(),
          s"stage $probe without $build in the subset needs a prior " +
            s"${v.workDir}/$artifact (and it may be stale — prefer including $build)")
    needs("ivf_probe", "ivf_build", "ivf")
    needs("pq_adc", "pq_encode", "pq")
    needs("pq_rerank", "pq_encode", "pq")
    v
  }

  override def extras(v: Vecs, a: BenchHarness.Args): Map[String, String] =
    v.recall(a.stages)
}
