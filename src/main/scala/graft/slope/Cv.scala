package graft.slope

import graft.slope.kernels.Stats
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One (q, sigma, measure) cell of the CV summary. */
case class CvCell(q: Double, sigma: Double, measure: String,
                  mean: Double, se: Double, lo: Double, hi: Double)

/** Repeated k-fold cross-validation result (reference `TrainedOwl`,
  * `R/trainOwl.R:191-200`). */
case class SlopeCvResult(summary: Seq[CvCell], optima: Seq[CvCell],
                         model: SlopeModel) {
  def summaryDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    summary.toDF()
  }
  def optimaDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    optima.toDF()
  }
}

/** `trainOwl`-equivalent tuner (reference `R/trainOwl.R:44-200`).
  *
  * Architectural difference vs the reference: the reference ships the
  * full data matrix to every PSOCK worker; here the data stays put in
  * the cluster — fold membership is a seeded column, every cell fit is
  * itself distributed, and cells run concurrently from a driver thread
  * pool (the `CrossValidator.parallelism` pattern). Folds are assigned
  * by seeded uniform hashing rather than an exact permutation
  * (statistically equivalent, and the only shuffle-free way to fold
  * 100 TB).
  */
object SlopeCv {

  def trainSlope(df: DataFrame, featuresCol: String, labelCol: String,
                 params: SlopeParams = SlopeParams(),
                 qs: Seq[Double] = Seq(0.2),
                 number: Int = 10,
                 repeats: Int = 1,
                 measures: Seq[String] = Seq("mse"),
                 seed: Long = 42L,
                 parallelism: Int = 1): SlopeCvResult = {
    require(number > 1, "number of folds must be > 1")
    require(repeats >= 1, "repeats must be >= 1")

    val family = params.family

    val valid = SlopeScore.ValidMeasures(family)
    val ms = measures.filter(valid.contains)
    require(ms.nonEmpty, s"measure needs to be one of ${valid.mkString(", ")}")

    // Deterministic fold columns, one per repeat: fold = content hash mod
    // number. rand(seed) is only stable for a fixed partition layout —
    // a cache eviction or upstream repartition between the fit job and
    // the scoring job could silently swap rows across folds (train/test
    // leakage). A row-content hash is layout-independent.
    val featHash = df.schema(featuresCol).dataType match {
      case _: org.apache.spark.sql.types.ArrayType => col(featuresCol)
      case _ => org.apache.spark.ml.functions.vector_to_array(col(featuresCol))
    }
    val foldCols = (0 until repeats).map(r =>
      pmod(xxhash64(featHash, col(labelCol), lit(seed + r)), lit(number))
        .cast("int").as(s"__fold_$r"))
    val withFolds = df.select(
      (col(featuresCol) +: col(labelCol) +: foldCols): _*).cache()

    val grid = for {
      q <- qs; rep <- 0 until repeats; fold <- 0 until number
    } yield (q, rep, fold)

    // Collect-once cell path: when the training data is driver-sized
    // (the same n*p gate Slope.fit applies per fit), pull the folded
    // rows ONE time and slice per cell instead of re-collecting the
    // train split number*repeats*|qs| times. Each slice is re-sorted by
    // content (Slope.sortRowsInPlace — the same order Slope.fit
    // imposes), and a cell's train multiset is identical either way, so
    // the fitted values are bit-for-bit unchanged. Above the gate every
    // cell fit stays fully distributed.
    val headRow = withFolds.take(1)
    require(headRow.nonEmpty, "empty input")
    val pFeat = Slope.toVec(headRow(0).get(0)).size
    // vectorize and content-sort the shared collect ONCE: the r11
    // scale gate caught per-cell toVec + sortRowsInPlace re-doing
    // O(n log n) work (and O(n) vector allocation) number*repeats*|qs|
    // times — at the sf1 frame that was a 12x allocation storm (128 s,
    // 7-11 s GC per rep). A filtered subset of a content-sorted
    // sequence is itself content-sorted with the identical value
    // sequence (ties are exact-duplicate rows), so each cell now just
    // selects SHARED vector references and fits — bit-identical
    // results, one sort instead of twelve.
    val localData: (Array[org.apache.spark.ml.linalg.Vector],
        Array[Any], Array[Array[Int]]) =
      if (withFolds.count() * pFeat.toLong <=
            Slope.effectiveLocalCellLimit(params)) {
        // the SAME cast projection Slope.fit applies before its own
        // collect, so slice values (and the content-sort keys derived
        // from them) are identical to what a per-cell fit would see
        val rows = Slope.selectFrame(withFolds, featuresCol, labelCol, params,
          (0 until repeats).map(r => col(s"__fold_$r")): _*).collect()
        val xs = rows.map(r => Slope.toVec(r.get(0)))
        val ys: Array[Any] = rows.map(_.get(1))
        val folds = rows.map(r =>
          Array.tabulate(repeats)(i => r.getInt(2 + i)))
        val ord = Slope.contentOrderIndices(xs, ys)
        (ord.map(xs), ord.map(ys), ord.map(folds))
      } else null

    // initial full fit fixes the sigma path (R/trainOwl.R:69,84) —
    // over the SHARED collect when the data is driver-sized (r17
    // optimization round): the localData arrays carry exactly fit's
    // casts and content order (see the slice argument above), so
    // fitLocal here is bit-identical to `Slope.fit(df, ...)`, minus
    // the second full collect + O(n log n) sort that fit would pay.
    // Above the gate the distributed fit is unchanged.
    val fullFit =
      if (localData != null)
        Slope.fitLocal(localData._1, localData._2,
          params.copy(q = Some(qs.head)))
      else Slope.fit(df, featuresCol, labelCol,
        params.copy(q = Some(qs.head)))
    val sigma = fullFit.sigma

    def runCell(cell: (Double, Int, Int)): Seq[((Double, String), Array[Double])] = {
      val (q, rep, fold) = cell
      val foldCol = col(s"__fold_$rep")
      val test = withFolds.filter(foldCol === fold)
      val cellParams = params.copy(q = Some(q), sigma = Some(sigma))
      val m =
        if (localData != null) {
          val (xsAll, ysAll, foldsAll) = localData
          val keep = Array.range(0, xsAll.length)
            .filter(i => foldsAll(i)(rep) != fold)
          Slope.fitLocal(keep.map(xsAll), keep.map(ysAll), cellParams)
        } else {
          Slope.fit(withFolds.filter(foldCol =!= fold), featuresCol, labelCol,
            cellParams)
        }
      val scores = SlopeScore.scoreMany(m, test, featuresCol, labelCol, ms)
      ms.map(measure => ((q, measure), scores(measure)))
    }

    val results: Seq[((Double, Int, Int), Seq[((Double, String), Array[Double])])] =
      if (parallelism <= 1) grid.map(c => c -> runCell(c))
      else {
        // concurrent Spark jobs from a driver pool (thread-safe in Spark)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futures = grid.map(c => scala.concurrent.Future(c -> runCell(c)))
        val out = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration.Inf)
        pool.shutdown()
        out
      }

    // aggregate (q, measure, step) across number*repeats cells
    val cells = grid.size / qs.size // = number*repeats per (q, measure)
    val byKey = results.flatMap(_._2).groupBy(_._1)
    val summary = for {
      q <- qs
      measure <- ms
      step <- sigma.indices
    } yield {
      val vals = byKey((q, measure)).map(_._2)
        .map(a => if (step < a.length) a(step) else Double.NaN)
        .filterNot(_.isNaN)
      val mean = vals.sum / vals.length
      val sd = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum /
        math.max(1, vals.length - 1))
      val se = sd / math.sqrt(cells.toDouble)
      val ci = Stats.qt(0.975, cells - 1.0) * se
      CvCell(q, sigma(step), measure, mean, se, mean - ci, mean + ci)
    }

    // higher-is-better measures maximize; the reference applies
    // which.min to every measure (trainOwl.R:165), which would pick the
    // WORST model when tuning on AUC — deliberate deviation
    val optima = ms.map { m =>
      val cells = summary.filter(_.measure == m)
      if (m == "auc") cells.maxBy(_.mean) else cells.minBy(_.mean)
    }

    withFolds.unpersist()
    SlopeCvResult(summary, optima, fullFit)
  }
}
