package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.GraphAnalytics
import graft.pipeline.{Dedup, SearchIndex, Similarity}

/** `pipeline_batch`: the batch chain — exact dedup, MinHash LSH,
  * connected components, keep representatives, BM25 index and probes, IVF
  * index and top-k, PageRank and k-core — over a seeded corpus with
  * planted duplicates and a seeded edge list, repeated until the time is
  * up. Every pass is checked against the planted ground truth and against
  * driver-side replicas of the exact operators.
  */
object Pipeline {
  val BaseDocs = 2000
  val NearPairs = 200
  val ExactGroups = 100
  val VocabSize = 6000
  val Dim = 64
  val Clusters = 32
  val NProbe = 4
  val Queries = 32
  val QueryBatches = 1
  val Bm25Probes = 2
  val GraphNodes = 1000
  val AttachPerNode = 4
  val PageRankIters = 3
  val KCoreK = 4
  /** Length of the planted chain the k-core peel removes one node per round. */
  val PeelDepth = 3
  val Setups = 3
  val WarmupPasses = 1
  /** Measured passes at the least. Three such passes outlast the window,
    * so a run on the seed engine always makes exactly three, never two or
    * three depending on the host's speed, and reports the middle one.
    */
  val MinPasses = 3
  /** Floors on the approximate stages, far below what a correct engine
    * reaches on this corpus (near-duplicates differ in one word of 30+).
    */
  val NearPairRecallFloor = 0.8
  val IvfRecallFloor = 0.9

  final case class Corpus(texts: Vector[String], vecs: Vector[Array[Float]],
      exactGroups: Vector[Vector[Long]], nearPairs: Vector[(Long, Long)],
      centroids: Vector[Array[Float]], queryIds: Vector[Long],
      probes: Vector[Seq[String]], edges: Vector[(Long, Long)]) {
    def size: Int = texts.size
  }

  private def gauss(rng: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rng.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * rng.nextDouble())
  }

  private def jitter(v: Array[Float], sd: Double, rng: SplittableRandom): Array[Float] =
    v.map(x => (x + sd * gauss(rng)).toFloat)

  def generate(seed: Long): Corpus = {
    val rng = new SplittableRandom(seed * 131 + 17)
    val lex = new Lexicon(seed + 1, VocabSize)
    val centers = Vector.fill(Clusters) {
      val c = Array.fill(Dim)(gauss(rng))
      val n = math.sqrt(c.map(x => x * x).sum)
      c.map(x => (x / n).toFloat)
    }
    val texts = mutable.ArrayBuffer.empty[String]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    (0 until BaseDocs).foreach { _ =>
      texts += lex.sentence(rng, 30 + rng.nextInt(16))
      vecs += jitter(centers(rng.nextInt(Clusters)), 0.05, rng)
    }
    val sources = Agent.shuffle(0 until BaseDocs, rng).take(NearPairs + ExactGroups)
    val nearPairs = sources.take(NearPairs).map { s =>
      val words = texts(s).split(" ")
      val i = rng.nextInt(words.length)
      words(i) = Iterator.continually(lex.word(rng)).find(_ != words(i)).get
      texts += words.mkString(" ")
      vecs += jitter(vecs(s), 0.005, rng)
      (s.toLong, (texts.size - 1).toLong)
    }.toVector
    val exactGroups = sources.drop(NearPairs).map { s =>
      s.toLong +: Vector.fill(1 + rng.nextInt(2)) {
        texts += texts(s)
        vecs += jitter(vecs(s), 0.005, rng)
        (texts.size - 1).toLong
      }
    }.toVector
    // one centroid per cluster, picked from the corpus
    val byCluster = (0 until BaseDocs).groupBy(i => centers.indices.maxBy(c => dot(vecs(i), centers(c))))
    val centroids = byCluster.toSeq.sortBy(_._1).map { case (_, ids) => vecs(ids(rng.nextInt(ids.size))) }.toVector
    val queryIds = Agent.shuffle(0 until BaseDocs, rng).take(Queries).map(_.toLong).toVector
    val probeZipf = new Zipf(500, 0.5)
    val probes = Vector.fill(Bm25Probes)(
      Seq.fill(1 + rng.nextInt(3))(lex.words(10 + probeZipf.sample(rng))).distinct)
    // preferential attachment: each strong node links to AttachPerNode
    // distinct earlier strong nodes drawn by degree, so no strong node ever
    // leaves the k-core. One node in eight is weak instead: one or two links
    // to strong nodes and none to it, so it goes in the first round. A
    // planted chain then makes the peel cascade one node per round, so it
    // takes PeelDepth + 1 rounds whatever the seed: the rounds repeat work
    // over the whole graph, and a seed-dependent count moved the pass time.
    val ends = mutable.ArrayBuffer.empty[Long]
    val edges = mutable.ArrayBuffer.empty[(Long, Long)]
    def link(v: Long, m: Int, strong: Boolean): Unit = {
      val ts = mutable.LinkedHashSet.empty[Long]
      while (ts.size < m) ts += ends(rng.nextInt(ends.size))
      ts.foreach { t => edges += ((v, t)); if (strong) { ends += v; ends += t } }
    }
    for (a <- 0 to AttachPerNode; b <- 0 until a) { edges += ((a.toLong, b.toLong)); ends += a; ends += b }
    val chainFrom = GraphNodes - PeelDepth
    for (v <- AttachPerNode + 1 until chainFrom) {
      val strong = rng.nextInt(8) != 0
      link(v, if (strong) AttachPerNode else 1 + rng.nextInt(2), strong)
    }
    // chain node i has KCoreK - 2 strong links and one to node i + 1, the
    // last KCoreK - 1: the first falls short by one, and each removal
    // leaves the next one short
    for (v <- chainFrom until GraphNodes) {
      val last = v == GraphNodes - 1
      link(v, if (last) KCoreK - 1 else KCoreK - 2, strong = false)
      if (!last) edges += ((v.toLong, v + 1L))
    }
    Corpus(texts.toVector, vecs.toVector, exactGroups, nearPairs, centroids,
      queryIds, probes, edges.toVector)
  }

  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i); i += 1 }
    s
  }

  def cosine(a: Array[Float], b: Array[Float]): Double =
    dot(a, b) / math.sqrt(dot(a, a) * dot(b, b))

  private val DocSchema = StructType(Seq(StructField("id", LongType),
    StructField("text", StringType), StructField("vec", ArrayType(FloatType))))
  private val EdgeSchema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
  private val CentroidSchema = StructType(Seq(StructField("cid", LongType),
    StructField("cvec", ArrayType(FloatType))))
  private val QuerySchema = StructType(Seq(StructField("qid", LongType),
    StructField("qvec", ArrayType(FloatType))))

  /** The timed part of set-up: write the corpus and edge list as parquet
    * (the batch chain's input), read them back and touch every row.
    */
  def load(spark: SparkSession, dir: File, c: Corpus): (DataFrame, DataFrame) = {
    val docRows = c.texts.indices.map(i => Row(i.toLong, c.texts(i), c.vecs(i).toSeq))
    spark.createDataFrame(docRows.asJava, DocSchema).write.parquet(s"$dir/docs")
    spark.createDataFrame(c.edges.map { case (s, d) => Row(s, d) }.asJava, EdgeSchema)
      .write.parquet(s"$dir/edges")
    val docs = spark.read.parquet(s"$dir/docs")
    val edges = spark.read.parquet(s"$dir/edges")
    require(docs.count() == c.size && edges.count() == c.edges.size)
    (docs, edges)
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val corpus = generate(ctx.opts.seed)
    val root = ctx.dir("pipeline")
    val loads = (1 to Setups).map { i =>
      val dir = new File(root, s"input-$i")
      val t0 = System.nanoTime()
      val dfs = load(spark, dir, corpus)
      (System.nanoTime() - t0) / 1e9 -> (dir, dfs)
    }
    loads.init.foreach { case (_, (dir, _)) => Agent.rmTree(dir) }
    val (docs, edges) = loads.last._2._2
    val truth = new Truth(corpus)
    val chain = new Chain(ctx, docs, edges, corpus, truth, root)
    // the JIT is still compiling the chain's code through its second pass:
    // one untimed (but checked) pass precedes the measured ones, and the
    // median of three measured passes is the reported one
    val warmS = (1 to WarmupPasses).map(i => chain.pass(-i, record = false)).sum
    val setupS = ctx.sessionS + Stats.median(loads.map(_._1)) + warmS
    val gc0 = Agent.gcMs()
    // every pass that starts inside the measured window, and at least MinPasses
    val deadline = System.nanoTime() + ctx.opts.seconds * 1000000000L
    var n = 0
    while (n < MinPasses || System.nanoTime() < deadline) {
      n += 1
      chain.pass(n, record = true)
    }
    val gc = Agent.gcMs() - gc0
    val cpuPerCall = chain.cpuMs / chain.calls.size

    val passS = Stats.median(chain.passSeconds.toSeq)
    val docsPerS = corpus.size / passS
    val calls = chain.calls.map(_._2).toSeq
    val rss = Stats.rssPeakMb()
    def stageS(n: String) = Stats.median(chain.stageSeconds(n))
    val table = Seq(
      Metric("setup_s", "s", setupS),
      Metric("pipeline_docs_per_s", "docs/s", docsPerS),
      Metric("pass_s", "s", passS),
      Metric("passes", "count", chain.passSeconds.size.toDouble),
      Metric("cpu_ms_per_call", "ms", cpuPerCall),
      Metric("call_p50_ms", "ms", Stats.pct(calls, 50)),
      Metric("call_p90_ms", "ms", Stats.pct(calls, 90)),
      Metric("ops_failed_frac", "ratio", chain.failed.toDouble / chain.attempted),
      Metric("index_space_amp", "ratio", chain.spaceAmp),
      Metric("rss_peak_mb", "MB", rss),
      Metric("lsh_near_pair_recall", "ratio", chain.nearRecall),
      Metric("ivf_recall_at_10", "ratio", chain.ivfRecall),
      Metric("kcore_rounds", "count", chain.kcoreRounds.toDouble)) ++
      Stages.map(s => Metric(s"$s.s", "s", stageS(s)))

    val metrics =
      if (!ctx.opts.trace) Seq(
        Metric("setup_s", "s", setupS),
        Metric("work_per_s", "1/s", docsPerS),
        Metric("cpu_ms_per_call", "ms", cpuPerCall),
        Metric("space_amp", "ratio", chain.spaceAmp))
      else {
        val td = ctx.tracer.data
        val roots = td.roots(n => Stages.contains(n)).filter(r => chain.recordedReqs(r.req))
        val passes = chain.passSeconds.size.toDouble
        def shuffle(stage: String) =
          roots.filter(_.name == stage).map(td.counts(_).shuffleBytes.toDouble).sum / passes
        Layers.metrics(Map(
          "spark.jobs_per_call" -> td.perCall(roots)(_.jobs.toDouble),
          "spark.stages_per_call" -> td.perCall(roots)(_.stages.toDouble),
          "spark.tasks_per_call" -> td.perCall(roots)(_.tasks.toDouble),
          "spark.driver_gap_ms_per_call" -> Stats.mean(roots.map(td.driverGapMs)),
          "spark.task_busy_ms_per_call" -> td.perCall(roots)(_.runMs.toDouble),
          "spark.gc_ms" -> gc,
          "spark.files_read_per_call" -> td.perCall(roots)(_.filesRead.toDouble),
          "spark.bytes_read_per_call" -> td.perCall(roots)(_.bytesRead.toDouble),
          "spark.shuffle_bytes" -> roots.map(td.counts(_).shuffleBytes.toDouble).sum / passes,
          "pipeline.exact_dedup_s" -> stageS("pipeline.exact_dedup"),
          "pipeline.minhash_lsh_s" -> stageS("pipeline.minhash_lsh"),
          "pipeline.components_s" -> stageS("pipeline.components"),
          "pipeline.keep_representatives_s" -> stageS("pipeline.keep_representatives"),
          "pipeline.bm25_build_s" -> stageS("pipeline.bm25_build"),
          "pipeline.bm25_probe_s" -> stageS("pipeline.bm25_probe"),
          "pipeline.ivf_build_s" -> stageS("pipeline.ivf_build"),
          "pipeline.ivf_topk_s" -> stageS("pipeline.ivf_topk"),
          "pipeline.lsh_candidate_precision" -> chain.lshPrecision,
          "pipeline.ivf_rows_scored_per_query" -> truth.ivfRowsScoredPerQuery(chain.keptIds),
          "graph.pagerank_s" -> stageS("graph.pagerank"),
          "graph.kcore_s" -> stageS("graph.kcore"),
          "graph.kcore_rounds" -> chain.kcoreRounds.toDouble,
          "trace.call_p50_ms" -> Stats.pct(calls, 50),
          "trace.listener_ms" -> td.listenerMs,
          "trace.spans" -> td.spans.size.toDouble) ++
          Stages.map(s => s"spark.shuffle_bytes.${s.split('.')(1)}" -> shuffle(s)))
      }
    Outcome(chain.attempted, chain.failed, chain.failures.toSeq, metrics, table)
  }

  val Stages = Seq("pipeline.exact_dedup", "pipeline.minhash_lsh", "pipeline.components",
    "pipeline.keep_representatives", "pipeline.bm25_build", "pipeline.bm25_probe",
    "pipeline.ivf_build", "pipeline.ivf_topk", "graph.pagerank", "graph.kcore")

  /** One pass of the chain per call to [[pass]]; every call into the
    * program is timed and traced as its own request, and its output is
    * materialized inside the timer (collected when small, checkpointed
    * when it feeds the next stage).
    */
  final class Chain(ctx: Ctx, docs: DataFrame, edges: DataFrame, c: Corpus, truth: Truth,
      root: File) {
    private val spark = ctx.spark
    val calls = mutable.ArrayBuffer.empty[(String, Double)]
    /** Process CPU spent inside the measured calls (checks excluded). */
    var cpuMs = 0.0
    val passSeconds = mutable.ArrayBuffer.empty[Double]
    private val stageTimes = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val recordedReqs = mutable.HashSet.empty[Long]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    var spaceAmp = 0.0
    var nearRecall = 0.0
    var ivfRecall = 0.0
    var lshPrecision = 0.0
    var kcoreRounds = 0
    var keptIds: Set[Long] = Set.empty
    private var bruteForce: Map[Long, Set[Long]] = Map.empty

    private val centroids = spark.createDataFrame(c.centroids.indices.map(i =>
      Row(i.toLong, c.centroids(i).toSeq)).asJava, CentroidSchema)
    private val queryBatches = c.queryIds.grouped(Queries / QueryBatches).map { ids =>
      spark.createDataFrame(ids.map(i => Row(i, c.vecs(i.toInt).toSeq)).asJava, QuerySchema)
    }.toVector
    private val uv = edges.select(col("src").as("u"), col("dst").as("v"))

    def stageSeconds(n: String): Seq[Double] = stageTimes.getOrElse(n, Nil).toSeq

    private def check(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) {
        failed += 1
        if (failures.size < 10) failures += what
      }
    }

    /** Runs pass `n` and returns its seconds spent inside program calls. */
    def pass(n: Int, record: Boolean): Double = {
      val perStage = mutable.HashMap.empty[String, Double]
      def timed[T](name: String)(body: => T): T = {
        val t0 = System.nanoTime()
        val cpu0 = Stats.processCpuMs()
        val r = ctx.tracer.request(name) {
          if (record && ctx.tracer.enabled) recordedReqs += ctx.tracer.currentRequest
          body
        }
        val ms = (System.nanoTime() - t0) / 1e6
        if (record) {
          calls += name -> ms
          cpuMs += Stats.processCpuMs() - cpu0
        }
        perStage(name) = perStage.getOrElse(name, 0.0) + ms
        r
      }
      val dir = new File(root, s"pass-$n")
      val bm25Path = s"$dir/bm25"
      val ivfPath = s"$dir/ivf"

      val exact = timed("pipeline.exact_dedup")(Dedup.exact(docs, col("text"), col("id")).collect())
      val pairsDf = timed("pipeline.minhash_lsh")(
        Dedup.minhashLsh(docs, col("id"), col("text")).localCheckpoint(true))
      val (ccDf, cc) = timed("pipeline.components") {
        val d = Dedup.connectedComponents(pairsDf)
        (d, d.collect())
      }
      val kept = timed("pipeline.keep_representatives")(
        Dedup.keepRepresentatives(docs, col("id"), ccDf).localCheckpoint(true))
      timed("pipeline.bm25_build")(SearchIndex.buildIndex(kept, col("id"), col("text"), bm25Path))
      val bm25 = c.probes.map(p => p -> timed("pipeline.bm25_probe")(
        SearchIndex.bm25Probe(spark, bm25Path, p, 10).collect()))
      timed("pipeline.ivf_build")(Similarity.buildIvfIndex(kept, centroids, col("id"), col("vec"),
        col("cid"), col("cvec"), ivfPath))
      val ivf = queryBatches.flatMap(q => timed("pipeline.ivf_topk")(Similarity.ivfTopK(q, kept,
        centroids, col("qid"), col("qvec"), col("id"), col("vec"), col("cid"), col("cvec"),
        10, NProbe).collect()))
      val pr = timed("graph.pagerank")(GraphAnalytics.pageRankInt(edges, PageRankIters).collect())
      val (rounds, core) = timed("graph.kcore") {
        val f = GraphAnalytics.kCoreConverged(uv, KCoreK, 30)
        (f.roundsUsed, f.result.collect())
      }
      if (record) {
        passSeconds += perStage.values.sum / 1000.0
        perStage.foreach { case (k, v) => stageTimes.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v / 1000.0 }
      }

      // ── checks (untimed) ──
      check(exact.map(r => (r.getLong(2), r.getLong(1))).toSet ==
        c.exactGroups.map(g => (g.min, g.size.toLong)).toSet,
        s"exact dedup: ${exact.length} groups, planted ${c.exactGroups.size}")
      val pairs = pairsDf.collect().map(r => (r.getLong(0), r.getLong(1)))
      val pairSet = pairs.toSet
      nearRecall = c.nearPairs.count(pairSet).toDouble / c.nearPairs.size
      check(nearRecall >= NearPairRecallFloor, s"minhash near-pair recall $nearRecall < $NearPairRecallFloor")
      val exactPairs = c.exactGroups.flatMap(g => for (a <- g; b <- g if a < b) yield (a, b))
      check(exactPairs.forall(pairSet), "minhash missed an exact-duplicate pair")
      lshPrecision = pairs.count { case (a, b) => truth.jaccard(a, b) >= 0.5 }.toDouble / math.max(1, pairs.length)
      val wantCc = truth.components(pairs.toSeq)
      check(cc.map(r => (r.getLong(0), r.getLong(1))).toMap == wantCc,
        s"connected components: ${cc.length} labels, expected ${wantCc.size}")
      val keptNow = kept.select("id").collect().map(_.getLong(0)).toSet
      val wantKept = (0L until c.size).filterNot(i => wantCc.get(i).exists(_ != i)).toSet
      check(keptNow == wantKept, s"keepRepresentatives kept ${keptNow.size}, expected ${wantKept.size}")
      keptIds = keptNow
      bm25.foreach { case (p, rows) =>
        check(truth.bm25Consistent(keptNow, p, rows.map(r => (r.getLong(0), r.getLong(1))).toSeq),
          s"bm25Probe(${p.mkString(",")}) disagrees with the BM25 definition")
      }
      if (bruteForce.isEmpty) bruteForce = queryBatches.flatMap(q =>
        Similarity.bruteForceTopK(q, kept, col("qid"), col("qvec"), col("id"), col("vec"), 10).collect())
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      val got = ivf.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      ivfRecall = bruteForce.toSeq.map { case (q, want) => (got.getOrElse(q, Set.empty) & want).size }.sum.toDouble /
        bruteForce.values.map(_.size).sum
      check(ivfRecall >= IvfRecallFloor, s"ivfTopK recall@10 $ivfRecall < $IvfRecallFloor")
      check(pr.map(r => (r.getLong(0), r.getLong(1))).toMap == truth.pageRank,
        "pageRankInt disagrees with the integer PageRank recurrence")
      val (wantCore, wantRounds) = truth.kCore
      check(core.map(r => (r.getLong(0), r.getLong(1))).toMap == wantCore && rounds == wantRounds,
        s"kCoreConverged: ${core.length} nodes in $rounds rounds, expected ${wantCore.size} in $wantRounds")
      kcoreRounds = rounds
      if (n == -1) {
        val userBytes = keptNow.toSeq.map(i => c.texts(i.toInt).length + 4L * Dim).sum
        spaceAmp = (Stats.treeBytes(new File(bm25Path)) + Stats.treeBytes(new File(ivfPath))).toDouble / userBytes
      }
      Agent.rmTree(dir)
      perStage.values.sum / 1000.0
    }
  }

  /** Ground truth and driver-side replicas of the exact operators. */
  final class Truth(c: Corpus) {
    private lazy val shingles: Vector[Set[String]] = c.texts.map { t =>
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }

    def jaccard(a: Long, b: Long): Double = {
      val (x, y) = (shingles(a.toInt), shingles(b.toInt))
      val u = (x | y).size
      if (u == 0) 1.0 else (x & y).size.toDouble / u
    }

    /** Min-id label per node of every component the pairs form. */
    def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.map(x => x -> find(x)).toMap
    }

    private lazy val tokens: Vector[Map[String, Int]] = c.texts.map(
      _.toLowerCase(java.util.Locale.ROOT).split("[^a-z]+").filter(_.nonEmpty)
        .groupBy(identity).map { case (k, v) => k -> v.length })

    /** BM25 as SearchIndex defines it (k1 = 1.2, b = 0.75, per-term
      * fixed-point floor), recomputed over the kept docs. The probe's
      * answer must score each returned doc within rounding of the
      * definition, in non-increasing order, with nothing left out that
      * beats its last row.
      */
    def bm25Consistent(kept: Set[Long], probe: Seq[String], got: Seq[(Long, Long)]): Boolean = {
      val docs = kept.toSeq
      val dl = docs.map(d => d -> tokens(d.toInt).values.sum.toDouble).toMap
      val avgdl = dl.values.sum / docs.size
      val df = probe.map(t => t -> docs.count(d => tokens(d.toInt).contains(t))).toMap
      def score(d: Long): Long = probe.map { t =>
        tokens(d.toInt).get(t).map { tf =>
          val idf = math.log((docs.size - df(t) + 0.5) / (df(t) + 0.5) + 1.0)
          math.floor(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl(d) / avgdl)) * 1000000.0).toLong
        }.getOrElse(0L)
      }.sum
      val tol = probe.size.toLong
      val all = docs.map(d => d -> score(d)).filter(_._2 > 0).sortBy { case (d, s) => (-s, d) }
      val want = all.take(10)
      got.size == want.size &&
        got.forall { case (d, s) => kept(d) && math.abs(score(d) - s) <= tol } &&
        got.map(_._2).sliding(2).forall(w => w.size < 2 || w(0) >= w(1)) &&
        (got.isEmpty || all.drop(10).forall(_._2 <= got.last._2 + tol))
    }

    /** pageRankInt's recurrence in exact integer arithmetic. */
    lazy val pageRank: Map[Long, Long] = {
      val (scale, num, den) = (1000000L, 85L, 100L)
      val base = scale * (den - num) / den
      val outDeg = c.edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
      var recv = Map.empty[Long, Long]
      for (i <- 1 to PageRankIters) {
        val contrib = outDeg.map { case (s, d) =>
          s -> (if (i == 1) scale * num / den / d else (base + recv.getOrElse(s, 0L)) * num / den / d)
        }
        recv = c.edges.groupBy(_._2).map { case (t, es) => t -> es.map(e => contrib(e._1)).sum }
      }
      val nodes = c.edges.flatMap { case (s, d) => Seq(s, d) }.distinct
      nodes.map(v => v -> (base + recv.getOrElse(v, 0L))).toMap
    }

    /** Synchronous k-core peel: (node -> degree in the core, rounds until
      * a round removed nothing).
      */
    lazy val kCore: (Map[Long, Long], Int) = {
      val adj = c.edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }.groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2) }
      var surv = adj.keySet
      var rounds = 0
      var done = false
      while (!done) {
        rounds += 1
        val next = surv.filter(v => adj(v).count(surv) >= KCoreK)
        done = next.size == surv.size
        surv = next
      }
      (surv.toSeq.map(v => v -> adj(v).count(surv).toLong).toMap, rounds)
    }

    /** Corpus rows an IVF query scores: the kept docs in its NProbe
      * nearest cells, itself excluded.
      */
    def ivfRowsScoredPerQuery(kept: Set[Long]): Double = {
      def nearest(v: Array[Float]) = c.centroids.indices.sortBy(i => (-cosine(v, c.centroids(i)), i))
      val cell = kept.toSeq.map(d => d -> nearest(c.vecs(d.toInt)).head).toMap
      val sizes = cell.values.groupBy(identity).map { case (k, v) => k -> v.size }
      Stats.mean(c.queryIds.map { q =>
        nearest(c.vecs(q.toInt)).take(NProbe).map(sizes.getOrElse(_, 0)).sum -
          (if (kept(q)) 1.0 else 0.0)
      })
    }
  }
}
