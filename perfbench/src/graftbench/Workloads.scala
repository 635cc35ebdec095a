package graftbench

import graft.functions.{ByteBpe, TextFunctions}
import graft.operators.{Dedup, Packing}
import graft.slope._
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StringType}
import org.apache.spark.storage.StorageLevel

/** What a workload hands the runner: per-op outputs are checked inside
  * `op`/`tracedOp`, which return None on success or the failed check. */
trait Workload {
  /** Input rows one op consumes (documents for the pipeline). */
  def rowsPerOp: Long
  /** Generate, persist and materialize the inputs; run the first op,
    * whose output becomes the reference later ops are checked against. */
  def setup(): Unit
  def teardown(): Unit
  def op(): Option[String]
  /** The op as the traced run runs it, with (`wrap`) or without the
    * tracing wrappers and nothing else different: the two halves of a
    * tracing-overhead pair. By default `op` itself, whose spans and
    * counters record only while the tracer is on. */
  def tracedOp(wrap: Boolean): Option[String] = op()
  /** Checks that only make sense with the tracing wrappers in place. */
  def equivalence(): Seq[(String, Boolean)] = Nil
}

/** Shared context of one run. */
final class Ctx(val spark: SparkSession, val seed: Long, val tiny: Boolean,
                val tracer: Tracer) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  val counters = scala.collection.mutable.Map.empty[String, LayerCounter]
  def counter(name: String): LayerCounter = counters.getOrElseUpdate(name, new LayerCounter)
  /** Workload-specific per-layer totals, summed over traced ops only. */
  val totals = scala.collection.mutable.Map.empty[String, Double]
  def add(k: String, v: Double): Unit =
    if (tracer.op >= 0) totals(k) = totals.getOrElse(k, 0.0) + v
}

object Digest {
  /** Order-independent exact digest of every column of `df`: XOR of a
    * 64-bit hash per row. Reading it forces every column to be computed
    * (a bare count lets the optimizer drop unused columns). */
  private def rows(df: DataFrame) = bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))

  def of(df: DataFrame): Long = df.agg(rows(df)).head().getLong(0)

  /** The digest together with the sum of one long column, in one job. */
  def withSum(df: DataFrame, sumCol: String): (Long, Long) = {
    val r = df.agg(sum(sumCol), rows(df)).head()
    (r.getLong(0), r.getLong(1))
  }
}

object Fits {
  def same(a: SlopeModel, b: SlopeModel): Boolean = {
    def eq(x: Array[Array[Double]], y: Array[Array[Double]]) =
      x.length == y.length && x.indices.forall(i => java.util.Arrays.equals(x(i), y(i)))
    eq(a.coefs, b.coefs) && eq(a.intercepts, b.intercepts) &&
      java.util.Arrays.equals(a.sigma, b.sigma) &&
      java.util.Arrays.equals(a.deviances, b.deviances) &&
      java.util.Arrays.equals(a.passes, b.passes)
  }

  /** Max abs coefficient/intercept difference per step, or +inf on a
    * shape mismatch: the dist-vs-local certificate. */
  def maxDiff(a: SlopeModel, b: SlopeModel): Double =
    if (a.nSteps != b.nSteps) Double.PositiveInfinity
    else (0 until a.nSteps).map { s =>
      (a.coefs(s).zip(b.coefs(s)) ++ a.intercepts(s).zip(b.intercepts(s)))
        .map { case (x, y) => math.abs(x - y) }.foldLeft(0.0)(math.max)
    }.foldLeft(0.0)(math.max)

  def summary(m: SlopeModel): (Double, Double, Double) =
    (m.nSteps.toDouble, m.passes.sum.toDouble,
      m.activeSets.map(_.length.toDouble).sum / math.max(1, m.activeSets.length))
}

/** Binomial response coding the engine applies before a backend sees
  * the rows: -1/+1 by sorted class name, where class names sort
  * numerically when all parse as numbers. */
object Encode extends Serializable {
  def classNames(labels: Seq[String]): Array[String] = {
    val d = labels.distinct.toArray
    if (d.forall(s => scala.util.Try(s.toDouble).isSuccess)) d.sortBy(_.toDouble)
    else d.sorted
  }
  def binomial(first: String): Any => Array[Double] =
    (a: Any) => Array(if (a.toString == first) -1.0 else 1.0)
  def vec(a: Any): Vector = a match {
    case v: Vector => v
    case s: scala.collection.Seq[_] => Vectors.dense(s.map(_.asInstanceOf[Double]).toArray)
  }
}

/** Binomial FISTA path fits on a persisted dense frame from
  * `RandomProblem.generate`: one op fits the path on the driver-local
  * backend, then forced distributed (`localCellLimit = 0`, every solver
  * pass a Spark job) and certifies the second against a local fit. The
  * paths have a fixed number of steps, each solve a fixed pass budget,
  * and screening is off so every pass covers all p columns: each seed
  * asks for nearly the same solver work (with converged, screened
  * solves the passes and active sets vary by about 20% between seeds);
  * the seed changes the data, which each fit must still reproduce. */
final class SlopeFitWorkload(ctx: Ctx) extends Workload {
  import ctx._
  // n >= 16384 puts LocalBackend on its 32-chunk parallel pass
  val n: Long = if (tiny) 2048 else 16384
  val p = 20
  val localParams = SlopeParams(family = "binomial", nSigma = if (tiny) 2 else 4,
    lambdaMinRatio = Some(0.1), tolDevChange = 0.0, tolDevRatio = 2.0,
    screening = false, maxPasses = 20)
  val distParams = localParams.copy(nSigma = 2, maxPasses = 5, localCellLimit = 0L)
  def rowsPerOp: Long = 2 * n
  private var df: DataFrame = _
  private var localRef: SlopeModel = _
  private var distRef: SlopeModel = _   // driver-local fit with distParams

  def setup(): Unit = {
    df = RandomProblem.generate(spark, n, p, family = "binomial", seed = seed,
      slices = 8).df.persist(StorageLevel.MEMORY_ONLY)
    require(df.count() == n)
    localRef = Slope.fit(df, "features", "label", localParams)
    distRef = Slope.fit(df, "features", "label",
      distParams.copy(localCellLimit = SlopeParams().localCellLimit))
    checkDist(Slope.fit(df, "features", "label", distParams))
      .foreach(e => throw new IllegalStateException(s"first op failed: $e"))
  }

  def teardown(): Unit = df.unpersist(blocking = true)

  private def checkLocal(m: SlopeModel): Option[String] =
    if (Fits.same(m, localRef)) None
    else Some("local fit is not bit-identical to the reference fit")

  private def checkDist(m: SlopeModel): Option[String] = {
    val d = Fits.maxDiff(m, distRef)
    if (d <= 1e-4) None else Some(s"distributed fit differs from local by $d > 1e-4")
  }

  def op(): Option[String] =
    checkLocal(Slope.fit(df, "features", "label", localParams))
      .orElse(checkDist(Slope.fit(df, "features", "label", distParams)))

  /** The frame `Slope.fit` selects from `df`. */
  private def select(): DataFrame = df.select(
    col("features").cast(ArrayType(DoubleType)).as("f"), col("label").cast(StringType).as("l"))

  private def backend(inner: SlopeBackend, layer: String, wrap: Boolean): SlopeBackend =
    if (wrap) new TracingBackend(inner, layer, tracer, ctx.counter(layer)) else inner

  /** `Slope.fit`'s steps with the backend built here, optionally
    * wrapped, so a fit splits into prep, backend passes and solver self
    * time. The prep runs the same Spark jobs as `Slope.fit`: it sizes the
    * input (take(1), count) before it collects or distributes it. */
  private def localByBackend(wrap: Boolean): SlopeModel = tracer.span("slope.fit") {
    val (xs, rawY) = tracer.span("slope.prep") {
      val sel = select()
      require(sel.take(1).nonEmpty && sel.count() == n)
      Slope.collectLocal(df, "features", "label", localParams)
    }
    val names = Encode.classNames(rawY.map(_.toString).toIndexedSeq)
    val b = backend(new LocalBackend(xs, rawY.map(Encode.binomial(names(0))), xs(0).size, 1,
      localParams.fitIntercept), "local_backend", wrap)
    tracer.span("slope.solve")(
      Slope.fitBackend(b, localParams, Array.empty, names, names.length))
  }

  private def distByBackend(wrap: Boolean): SlopeModel = tracer.span("slope.fit") {
    val sel = select()
    val (pp, nn, names) = tracer.span("slope.prep") {
      (Encode.vec(sel.take(1)(0).get(0)).size, sel.count(),
        Encode.classNames(sel.select("l").distinct().collect().map(_.getString(0)).toIndexedSeq))
    }
    val enc = Encode.binomial(names(0))
    val inner = new DistributedBackend(sel.rdd.map(r => (Encode.vec(r.get(0)), enc(r.get(1)))),
      pp, 1, distParams.fitIntercept, distParams.treeDepth, knownN = nn)
    try tracer.span("slope.solve")(Slope.fitBackend(backend(inner, "dist_backend", wrap),
      distParams, Array.empty, names, names.length))
    finally inner.unpersist()
  }

  override def tracedOp(wrap: Boolean): Option[String] = {
    val fits = Seq(localByBackend(wrap), distByBackend(wrap))
    fits.map(Fits.summary).foreach { case (steps, passes, active) =>
      add("slope.steps", steps); add("slope.passes", passes); add("slope.active_mean", active / 2)
    }
    checkLocal(fits(0)).orElse(checkDist(fits(1)))
  }

  override def equivalence(): Seq[(String, Boolean)] = {
    val (xs, rawY) = Slope.collectLocal(df, "features", "label", localParams)
    Seq(
      "wrapped local fitBackend bit-identical to Slope.fitLocal" ->
        Fits.same(localByBackend(wrap = true), Slope.fitLocal(xs, rawY, localParams)),
      "wrapped distributed fit within 1e-4 of the local fit" ->
        checkDist(distByBackend(wrap = true)).isEmpty)
  }
}

/** Gaussian cross-validation (ADMM + Gram path, concurrent single-chunk
  * cell fits from one shared collect), then serving and scoring over
  * the whole frame. */
final class CvServeWorkload(ctx: Ctx) extends Workload {
  import ctx._
  val n: Long = if (tiny) 2048 else 4800
  val p = 20
  val params = SlopeParams(family = "gaussian", nSigma = 5,
    tolDevChange = 0.0, tolDevRatio = 2.0)
  val measures = Seq("mse", "mae")
  val qs = Seq(0.1)
  val folds = 4
  def rowsPerOp: Long = n
  private var df: DataFrame = _
  private var refSummary: Seq[CvCell] = _
  private var refPredDigest = 0L
  private var refScores: Map[String, Array[Double]] = _

  def setup(): Unit = {
    df = RandomProblem.generate(spark, n, p, family = "gaussian", seed = seed,
      slices = 8).df.persist(StorageLevel.MEMORY_ONLY)
    require(df.count() == n)
    val (s, d, sc) = run()
    refSummary = s; refPredDigest = d; refScores = sc
  }

  def teardown(): Unit = df.unpersist(blocking = true)

  private def run(): (Seq[CvCell], Long, Map[String, Array[Double]]) = {
    val cpu0 = Main.processCpuNs()
    val t0 = System.nanoTime()
    val cv = tracer.span("cv.train")(SlopeCv.trainSlope(df, "features", "label",
      params, qs = qs, number = folds, measures = measures,
      seed = seed, parallelism = nproc))
    add("cv.cells", qs.length * folds)
    add("cv.cpu_ns", Main.processCpuNs() - cpu0)
    add("cv.wall_ns", System.nanoTime() - t0)
    val digest = tracer.span("serve.predict")(
      Digest.of(SlopeServe.predictions(cv.model, df, "features", Seq("link"))
        .select("features", "linpred")))
    val scores = tracer.span("serve.score")(
      SlopeScore.scoreMany(cv.model, df, "features", "label", measures))
    (cv.summary, digest, scores)
  }

  private def cellBits(c: CvCell) =
    Seq(c.q, c.sigma, c.mean, c.se, c.lo, c.hi).map(java.lang.Double.doubleToLongBits) :+
      c.measure.hashCode.toLong

  def op(): Option[String] = {
    val (s, d, sc) = run()
    if (s.map(cellBits) != refSummary.map(cellBits)) Some("CV summary changed between ops")
    else if (d != refPredDigest) Some("prediction digest changed between ops")
    else measures.collectFirst {
      case m if !sc(m).sameElements(refScores(m)) => s"scoreMany($m) changed between ops"
    }
  }

}

/** quality filter -> exact dedup -> MinHash near-dup pairs -> GPT-2 BPE
  * sequence packing, each step persisted and counted as a checkpoint. */
final class PipelineWorkload(ctx: Ctx) extends Workload {
  import ctx._
  val nDocs: Int = if (tiny) 300 else 2500
  val seqLen = 512
  val recallFloor = 0.9
  def rowsPerOp: Long = nDocs
  private var corpus: Corpus = _
  private var docs: DataFrame = _
  private var tokensOf: Map[Long, Long] = _
  private var refPackDigest: Option[Long] = None

  def setup(): Unit = {
    corpus = Corpus.generate(nDocs, seed)
    import spark.implicits._
    docs = spark.sparkContext.parallelize(corpus.docs, nproc).toDF("id", "text")
      .persist(StorageLevel.MEMORY_ONLY)
    require(docs.count() == nDocs)
    // per-document token counts through the counting kernel, a code
    // path independent of the id arrays the packer concatenates
    tokensOf = docs.select(col("id"), ByteBpe.gpt2TokenCount(col("text")))
      .collect().map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    val (failure, digest) = run()
    failure.foreach(e => throw new IllegalStateException(s"first op failed: $e"))
    refPackDigest = Some(digest)
  }

  def teardown(): Unit = docs.unpersist(blocking = true)

  private def step(name: String)(df: => DataFrame): (DataFrame, Long) =
    tracer.span(name) {
      val d = df.persist(StorageLevel.MEMORY_ONLY)
      (d, d.count())
    }

  /** One pipeline pass: (failed check, digest of the packed output). */
  private def run(): (Option[String], Long) = {
    val (q, kept) = step("quality")(
      docs.filter(TextFunctions.qualityScore(col("text")) >= 0.5))
    val (ex, exKept) = step("dedup.exact")(Dedup.dropExactDuplicates(q, "id", "text"))
    val (pairs, _) = step("dedup.minhash")(Dedup.minhashDupPairs(ex, "id", "text"))
    val (packed, nSeq) = step("pack")(Packing.packTokenSequences(
      ex.join(pairs.select(col("id_b").as("id")), Seq("id"), "left_anti"),
      "id", "text", seqLen, ByteBpe.gpt2TokenIdArray))
    try tracer.span("check") {
      val exIds = ex.select("id").collect().map(_.getLong(0)).toSet
      val found = pairs.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hit = (found intersect corpus.nearPairs).size.toDouble
      val recall = hit / corpus.nearPairs.size
      val precision = if (found.isEmpty) 1.0 else hit / found.size
      val expectedTokens = (exIds -- found.map(_._2)).toSeq.map(tokensOf).sum
      val (tokens, digest) = Digest.withSum(packed, "n_tokens")
      add("quality.docs_kept", kept.toDouble)
      add("dedup.exact_removed", (kept - exKept).toDouble)
      add("dedup.near_dup_recall", recall)
      add("dedup.near_dup_precision", precision)
      add("pack.sequences", nSeq.toDouble)
      add("pack.fill_ratio", tokens.toDouble / (nSeq * seqLen))
      val failure =
        // with the count right, a kept bad or dropped good document
        // would show in the exact-dedup survivors (bad ones are unique)
        if (kept != corpus.good)
          Some(s"quality kept $kept docs, expected the ${corpus.good} good ones")
        else if ((exIds intersect corpus.exactRemoved).nonEmpty)
          Some("a planted exact duplicate survived dedup")
        else if (exIds != corpus.docs.map(_._1).toSet -- corpus.bad -- corpus.exactRemoved)
          Some(s"exact dedup kept ${exIds.size} docs, expected " +
            s"${corpus.good - corpus.exactRemoved.size}")
        else if (recall < recallFloor) Some(s"near-dup recall $recall < $recallFloor")
        else if (tokens != expectedTokens)
          Some(s"packing holds $tokens tokens, its input $expectedTokens")
        else if (refPackDigest.exists(_ != digest))
          Some("packed sequences changed between ops")
        else None
      (failure, digest)
    } finally Seq(q, ex, pairs, packed).foreach(_.unpersist(blocking = true))
  }

  def op(): Option[String] = run()._1
}
