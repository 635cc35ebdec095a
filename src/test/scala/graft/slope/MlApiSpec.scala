package graft.slope

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Estimator/Model wrapper, persistence, distributed fixture generator,
  * and local==distributed backend equivalence. */
class MlApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("SlopeRegression estimator: fit + transform through ml.Pipeline API") {
    val gen = RandomProblem.generate(spark, 500, 5, family = "gaussian", seed = 7)
    val est = new SlopeRegression()
      .setFamily("gaussian").setNSigma(15).setScale("l2")
    val model = est.fit(gen.df)
    assert(model.slopeModel.nSteps > 1)
    val out = model.transform(gen.df)
    assert(out.columns.contains("prediction"))
    // predictions should correlate strongly with the label at path end
    val corrV = out.select(corr(col("prediction"), col("label"))).head().getDouble(0)
    assert(corrV > 0.8, s"corr $corrV")
    // planted nonzero features should be recovered at the path end
    val last = model.slopeModel.coefs.last
    gen.nonzero.foreach { j =>
      assert(math.abs(last(j)) > 0.1, s"planted feature $j not recovered")
    }
  }

  test("MLlib CrossValidator tunes SlopeRegression via ParamGridBuilder") {
    // the caret-adapter role (reference R/caretOwl.R:15-269): hyper-
    // parameter tuning must work through the STOCK MLlib tooling, which
    // exercises defaultCopy/fit(paramMap) and the DoubleType prediction
    // contract end-to-end
    import org.apache.spark.ml.evaluation.RegressionEvaluator
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val gen = RandomProblem.generate(spark, 400, 5, family = "gaussian",
      seed = 21)
    val est = new SlopeRegression().setFamily("gaussian").setNSigma(8)
    val grid = new ParamGridBuilder()
      .addGrid(est.q, Array(0.1, 0.2))
      .addGrid(est.scale, Array("l2", "sd"))
      .build()
    val cv = new CrossValidator()
      .setEstimator(est)
      .setEvaluator(new RegressionEvaluator().setMetricName("rmse"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(2)
      .setSeed(42L)
    val cvModel = cv.fit(gen.df)
    assert(cvModel.avgMetrics.length == 4)
    assert(cvModel.avgMetrics.forall(m => !m.isNaN && m > 0))
    val best = cvModel.bestModel.asInstanceOf[SlopeRegressionModel]
    assert(best.slopeModel.nSteps > 1)
    // the tuned model serves predictions through the standard surface
    val out = cvModel.transform(gen.df)
    val corrV = out.select(corr(col("prediction"), col("label")))
      .head().getDouble(0)
    assert(corrV > 0.8, s"corr $corrV")
  }

  test("multi-task estimator emits array predictions under a distinct name") {
    // m > 1 must NOT silently retype the scalar `prediction` column:
    // the standard DoubleType contract (RegressionEvaluator et al.)
    // stays intact because multi-task output lands in `predictions`
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    import spark.implicits._
    val rng = new scala.util.Random(37)
    val rows = (1 to 300).map { _ =>
      val x = Array.fill(4)(rng.nextGaussian())
      (x, Array(2.0 * x(0) - x(1) + rng.nextGaussian() * 0.1,
        x(2) * 3.0 + rng.nextGaussian() * 0.1))
    }
    val df = rows.toDF("features", "label")
    val model = new SlopeRegression().setFamily("gaussian").setNSigma(8)
      .fit(df)
    assert(model.slopeModel.m == 2)
    val out = model.transform(df)
    assert(!out.columns.contains("prediction"),
      "scalar prediction must not exist for m > 1")
    assert(out.columns.contains("predictions"))
    assert(out.schema("predictions").dataType == ArrayType(DoubleType, false) ||
      out.schema("predictions").dataType.isInstanceOf[ArrayType])
    val first = out.select("predictions").head().getSeq[Double](0)
    assert(first.length == 2, s"expected length-2 predictions, got $first")
    // each task's prediction tracks its own target
    val corr0 = out.select(corr(element_at(col("predictions"), 1),
      element_at(col("label"), 1))).head().getDouble(0)
    val corr1 = out.select(corr(element_at(col("predictions"), 2),
      element_at(col("label"), 2))).head().getDouble(0)
    assert(corr0 > 0.8 && corr1 > 0.8, s"per-task corr $corr0 / $corr1")
  }

  test("binomial estimator predicts class labels") {
    val gen = RandomProblem.generate(spark, 600, 4, family = "binomial", seed = 9)
    val model = new SlopeRegression().setFamily("binomial").setNSigma(10)
      .fit(gen.df)
    val out = model.transform(gen.df)
    val acc = out.select(avg(when(col("prediction") ===
      col("label").cast("string"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(acc > 0.8, s"accuracy $acc")
  }

  test("model save/load roundtrip") {
    val gen = RandomProblem.generate(spark, 300, 4, family = "gaussian", seed = 3)
    val m = Slope.fit(gen.df, "features", "label", SlopeParams(nSigma = 8))
    val dir = java.nio.file.Files.createTempDirectory("slope_model").toString
    SlopeModelIO.save(m, spark, dir)
    val loaded = SlopeModelIO.load(spark, dir)
    assert(loaded.family == m.family && loaded.p == m.p && loaded.nSteps == m.nSteps)
    for (s <- 0 until m.nSteps) {
      assert(loaded.coefs(s).sameElements(m.coefs(s)), s"coefs step $s")
      assert(loaded.intercepts(s).sameElements(m.intercepts(s)))
    }
    assert(loaded.sigma.sameElements(m.sigma))
    assert(loaded.devianceRatios.sameElements(m.devianceRatios))
  }

  test("randomProblem design knobs: density, rho, multinomial response") {
    import spark.implicits._
    // density: cell-level sparsity matches the knob (reference
    // rsparsematrix analogue — iid Bernoulli(density) mask)
    val sp = RandomProblem.generate(spark, 2000, 20, family = "gaussian",
      seed = 31, density = 0.3)
    val cells = sp.df.select(explode(col("features")).as("v"))
    val frac = cells.select(avg(when(col("v") =!= 0.0, 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(math.abs(frac - 0.3) < 0.02, s"nonzero fraction $frac != 0.3")
    // nonzero cells keep the N(0,1) value distribution
    val nzSd = cells.filter(col("v") =!= 0.0)
      .select(stddev(col("v"))).head().getDouble(0)
    assert(math.abs(nzSd - 1.0) < 0.05, s"nonzero sd $nzSd")

    // rho: pairwise column correlation ~ rho (equicorrelated design,
    // reference utils.R:37-38), and variance inflates to 1/(1-rho)
    val co = RandomProblem.generate(spark, 4000, 6, family = "gaussian",
      seed = 33, rho = 0.5)
    val wide = co.df.select((0 until 6).map(j =>
      element_at(col("features"), j + 1).as(s"c$j")): _*)
    val corrs = for (a <- 0 until 6; b <- a + 1 until 6) yield
      wide.select(corr(col(s"c$a"), col(s"c$b"))).head().getDouble(0)
    val meanCorr = corrs.sum / corrs.size
    assert(math.abs(meanCorr - 0.5) < 0.05, s"mean column corr $meanCorr != 0.5")
    val v0 = wide.select(variance(col("c0"))).head().getDouble(0)
    assert(math.abs(v0 - 2.0) < 0.2, s"variance $v0 != 1/(1-rho) = 2")

    // multinomial: labels span 1..m, every class occupied, and the
    // planted beta drives class separation (a fit beats chance)
    val mn = RandomProblem.generate(spark, 3000, 6, family = "multinomial",
      seed = 35, qSignal = 0.3, amplitude = 2.0, nTargets = 3)
    assert(mn.beta.length == 18)
    val counts = mn.df.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(counts.keySet == Set(1.0, 2.0, 3.0), s"labels: ${counts.keySet}")
    assert(counts.values.forall(_ > 100), s"class counts: $counts")
    val fit = Slope.fit(mn.df, "features", "label",
      SlopeParams(family = "multinomial", nSigma = 10))
    val pred = SlopeServe.predictions(fit, mn.df, "features", Seq("class"))
    val acc = pred.select(avg(when(
      element_at(col("predicted_class"), fit.nSteps) ===
        col("label").cast("string"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(acc > 0.55, s"multinomial fixture accuracy $acc not above chance")
  }

  test("distributed backend == local backend on the same data") {
    val gen = RandomProblem.generate(spark, 400, 4, family = "gaussian", seed = 11)
    val local = Slope.fit(gen.df, "features", "label", SlopeParams(nSigma = 10))
    val dist = Slope.fit(gen.df, "features", "label",
      SlopeParams(nSigma = 10, localCellLimit = 0))
    assert(local.nSteps == dist.nSteps)
    for (s <- 0 until local.nSteps) {
      val d = local.coefs(s).zip(dist.coefs(s)).map { case (a, b) => math.abs(a - b) }
      assert(d.max < 1e-6, s"step $s max diff ${d.max}")
    }
  }

  // LocalBackend folds the solver passes in one chunk below 16,384 rows
  // and in 32 fixed chunks above; both fold orders are deterministic, so
  // the fused pass must equal the composed one exactly. Only
  // treeAggregate's driver combine follows task completion, so the
  // distributed backend keeps a relative ULP-scale bound — the same
  // bound two separate primalActive calls satisfy against each other.
  for ((label, n, distributed) <- Seq(
         ("distributed", 300, true),
         ("local, one chunk", 300, false),
         ("local, 32 chunks", 16500, false)))
    test(s"fused evalPairActive == composed primal + eval ($label)") {
      import org.apache.spark.ml.linalg.{Vector, Vectors}
      val rng = new scala.util.Random(41)
      val p = 4
      val rows = Array.fill(n)((
        Vectors.dense(Array.fill(p)(rng.nextGaussian())): Vector,
        Array(if (rng.nextBoolean()) 1.0 else -1.0)))
      val backend: RowFoldBackend =
        if (distributed)
          new DistributedBackend(spark.sparkContext.parallelize(rows.toSeq, 4), p, 1,
            true, knownN = n)
        else new LocalBackend(rows.map(_._1), rows.map(_._2), p, 1, true)
      try {
        backend.setStandardization(new Array[Double](p + 1),
          Array.fill(p + 1)(1.0))
        val active = (0 to p).toArray
        val cand = Array.tabulate(p + 1)(j => 0.1 * (j + 1))
        val next = Array.tabulate(p + 1)(j => -0.05 * (j + 1))
        val fam = Family("binomial")
        val (gc, gn, dn, grn) = backend.evalPairActive(active, cand, next, fam)
        def same(x: Double, y: Double): Boolean =
          if (distributed) math.abs(x - y) <= 1e-12 * math.max(1.0, math.abs(y))
          else x == y
        assert(same(gc, backend.primalActive(active, cand, fam)))
        val (g2, d2, gr2) = backend.evalActive(active, next, fam,
          needDual = true, needGrad = true)
        assert(same(gn, g2) && same(dn, d2))
        assert(grn.length == gr2.length && grn.indices.forall(i => same(grn(i), gr2(i))))
      } finally backend match {
        case d: DistributedBackend => d.unpersist()
        case _ =>
      }
    }

  test("set-up passes agree across backends: every scale mode, centered or not, dense or sparse") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val rng = new scala.util.Random(53)
    val n = 240; val p = 5; val m = 2
    // about half the cells are zero; column 0 is never positive, so its
    // max comes from a zero (implicit in the sparse rows)
    val dense = Array.fill(n)(Array.tabulate(p) { j =>
      if (rng.nextBoolean()) 0.0
      else if (j == 0) -math.abs(rng.nextGaussian()) - 0.1
      else rng.nextGaussian() + j
    })
    val ys = Array.fill(n)(Array.fill(m)(rng.nextGaussian()))
    def close(x: Array[Double], y: Array[Double]): Boolean =
      x.length == y.length && x.indices.forall(i =>
        math.abs(x(i) - y(i)) <= 1e-12 * math.max(1.0, math.abs(y(i))))
    val rowV = (y: Array[Double]) => Array(y(0) - 0.5, 2.0 * y(1))
    for (sparse <- Seq(false, true)) {
      val xs: Array[Vector] = dense.map { r =>
        val v = Vectors.dense(r); if (sparse) v.toSparse else v
      }
      val local = new LocalBackend(xs, ys, p, m, true)
      val dist = new DistributedBackend(
        spark.sparkContext.parallelize(xs.toSeq.zip(ys.toSeq), 4), p, m, true, knownN = n)
      try {
        val (meanL, sparseL) = local.featureMeansAndSparsity()
        val (meanD, sparseD) = dist.featureMeansAndSparsity()
        assert(sparseL == sparse && sparseD == sparse)
        assert(close(meanL, meanD))
        assert(close(meanL, Array.tabulate(p)(j => dense.map(_(j)).sum / n)))
        val (yMeanL, ySdL) = local.yMoments()
        val (yMeanD, ySdD) = dist.yMoments()
        assert(close(yMeanL, yMeanD) && close(ySdL, ySdD))
        for (centered <- Seq(false, true); scale <- Seq("l1", "l2", "sd", "max", "none")) {
          val clue = s"sparse=$sparse centered=$centered scale=$scale"
          val center = if (centered) meanL else new Array[Double](p)
          val sL = local.scaleStats(center, scale)
          assert(close(sL, dist.scaleStats(center, scale)), clue)
          val direct = scale match {
            case "l1" => Array.tabulate(p)(j => dense.map(r => math.abs(r(j) - center(j))).sum)
            case "max" => Array.tabulate(p)(j => dense.map(_(j)).max - center(j))
            case _ => sL
          }
          assert(close(sL, direct), clue)
          if (scale == "max") assert(sL(0) == -center(0), clue)
          val c = 0.0 +: center
          val s = math.sqrt(n.toDouble) +: sL.map(v => if (v == 0.0) 1.0 else v)
          local.setStandardization(c, s)
          dist.setStandardization(c, s)
          assert(close(local.xtv(rowV), dist.xtv(rowV)), clue)
        }
      } finally dist.unpersist()
    }
  }

  test("distributed backend binomial == local binomial") {
    val gen = RandomProblem.generate(spark, 400, 3, family = "binomial", seed = 13)
    val p = SlopeParams(family = "binomial", nSigma = 6)
    val local = Slope.fit(gen.df, "features", "label", p)
    val dist = Slope.fit(gen.df, "features", "label", p.copy(localCellLimit = 0))
    for (s <- 0 until math.min(local.nSteps, dist.nSteps)) {
      val d = local.coefs(s).zip(dist.coefs(s)).map { case (a, b) => math.abs(a - b) }
      assert(d.max < 1e-6, s"step $s max diff ${d.max}")
    }
  }

  test("VectorUDT features column (ml Vectors) fits like array<double>") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = (1 to 200).map { _ =>
      val x = Array.fill(4)(rng.nextGaussian())
      (Vectors.dense(x), x(0) * 2 - x(2) + rng.nextGaussian() * 0.1)
    }
    val dfVec = rows.toDF("features", "label")
    val dfArr = rows.map { case (v, y) => (v.toArray, y) }.toDF("features", "label")
    val mv = Slope.fit(dfVec, "features", "label", SlopeParams(nSigma = 8))
    val ma = Slope.fit(dfArr, "features", "label", SlopeParams(nSigma = 8))
    assert(mv.nSteps == ma.nSteps)
    for (s <- 0 until mv.nSteps)
      assert(mv.coefs(s).zip(ma.coefs(s)).forall { case (a, b) => a == b })
  }

  test("distributed sparse fit == distributed dense fit") {
    import org.apache.spark.ml.linalg.Vectors
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val rows = (1 to 300).map { _ =>
      val x = Array.fill(5)(if (rng.nextDouble() < 0.4) rng.nextGaussian() else 0.0)
      (x, x(0) - 2 * x(3) + rng.nextGaussian() * 0.1)
    }
    val dense = rows.map { case (x, y) => (Vectors.dense(x), y) }
      .toDF("features", "label")
    val sparse = rows.map { case (x, y) => (Vectors.dense(x).toSparse
      .asInstanceOf[org.apache.spark.ml.linalg.Vector], y) }
      .toDF("features", "label")
    val p = SlopeParams(nSigma = 8, center = Some(false), localCellLimit = 0)
    val md = Slope.fit(dense, "features", "label", p)
    val ms = Slope.fit(sparse, "features", "label", p)
    assert(md.nSteps == ms.nSteps)
    for (s <- 0 until md.nSteps) {
      val d = md.coefs(s).zip(ms.coefs(s)).map { case (a, b) => math.abs(a - b) }
      assert(d.max < 1e-8, s"step $s max diff ${d.max}")
    }
  }

  test("distributed backend poisson and multinomial == local") {
    for (family <- Seq("poisson", "multinomial")) {
      val (df, p) =
        if (family == "poisson")
          (RandomProblem.generate(spark, 300, 3, family = "poisson", seed = 19).df,
            SlopeParams(family = "poisson", nSigma = 5))
        else {
          // multinomial labels from a 3-way split of a random score
          val g = RandomProblem.generate(spark, 300, 3, family = "gaussian", seed = 23)
          import org.apache.spark.sql.functions._
          (g.df.withColumn("label",
            when(col("label") > 1.0, "hi").when(col("label") < -1.0, "lo")
              .otherwise("mid")),
            SlopeParams(family = "multinomial", nSigma = 5))
        }
      val local = Slope.fit(df, "features", "label", p)
      val dist = Slope.fit(df, "features", "label", p.copy(localCellLimit = 0))
      for (s <- 0 until math.min(local.nSteps, dist.nSteps)) {
        val d = local.coefs(s).zip(dist.coefs(s)).map { case (a, b) => math.abs(a - b) }
        assert(d.max < 1e-6, s"$family step $s max diff ${d.max}")
      }
    }
  }

  test("distributed backend rejects ragged feature rows with a clear error") {
    import spark.implicits._
    val df = Seq((Array(1.0, 2.0, 3.0), 1.0), (Array(1.0, 2.0), 2.0),
      (Array(0.5, 1.5, 2.5), 3.0)).toDF("features", "label")
    val e = intercept[Exception] {
      Slope.fit(df, "features", "label",
        SlopeParams(family = "gaussian", localCellLimit = 0))
    }
    // executor-side require surfaces wrapped in a SparkException chain
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("length 2 != expected 3"), msgs)
  }

  test("binomial: unregularized fit matches MLlib logistic regression") {
    // External-library anchor for the binomial family (complements the
    // in-test IRLS oracle): MLlib models P(y=1) with +1 = the second
    // sorted class, same convention as the {-1,+1} coding here.
    import spark.implicits._
    val gen = new SlopeFitSpec
    val p = 4
    val (xs, ys) = gen.randomProblem(19, 500, p, qSignal = 0.4,
      amplitude = 1.0, family = "binomial")
    val fit = Slope.fitLocal(xs, ys, SlopeParams(family = "binomial",
      sigma = Some(Array(1e-7)), screening = false,
      tolRelGap = 1e-9, tolInfeas = 1e-7))
    val df = xs.zip(ys).toSeq
      .map { case (x, y) => (x, if (y == "b") 1.0 else 0.0) }
      .toDF("features", "label")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setRegParam(0.0).setFitIntercept(true)
      .setStandardization(false).setMaxIter(500).setTol(1e-10)
    val anchor = lr.fit(df)
    for (j <- 0 until p)
      assert(math.abs(fit.coefs(0)(j) - anchor.coefficients(j)) < 1e-3,
        s"feature $j: graft ${fit.coefs(0)(j)} vs mllib ${anchor.coefficients(j)}")
    assert(math.abs(fit.intercepts(0)(0) - anchor.intercept) < 1e-3,
      s"intercept: graft ${fit.intercepts(0)(0)} vs mllib ${anchor.intercept}")
  }

  test("poisson: unregularized fit matches MLlib GLM poisson") {
    // External-library anchor for the poisson family (complements the
    // in-test Newton-IRLS oracle).
    import spark.implicits._
    val gen = new SlopeFitSpec
    val p = 4
    val (xs, ys) = gen.randomProblem(23, 400, p, family = "poisson")
    val fit = Slope.fitLocal(xs, ys, SlopeParams(family = "poisson",
      sigma = Some(Array(1e-7)), screening = false,
      tolRelGap = 1e-9, tolInfeas = 1e-7))
    val df = xs.zip(ys).toSeq
      .map { case (x, y) => (x, y.asInstanceOf[Double]) }
      .toDF("features", "label")
    val glm = new org.apache.spark.ml.regression.GeneralizedLinearRegression()
      .setFamily("poisson").setLink("log").setRegParam(0.0)
      .setFitIntercept(true).setMaxIter(200).setTol(1e-10)
    val anchor = glm.fit(df)
    for (j <- 0 until p)
      assert(math.abs(fit.coefs(0)(j) - anchor.coefficients(j)) < 1e-3,
        s"feature $j: graft ${fit.coefs(0)(j)} vs mllib ${anchor.coefficients(j)}")
    assert(math.abs(fit.intercepts(0)(0) - anchor.intercept) < 1e-3,
      s"intercept: graft ${fit.intercepts(0)(0)} vs mllib ${anchor.intercept}")
  }

  test("multinomial: unregularized fit matches MLlib softmax regression") {
    // External anchor for the multinomial family (the reference checks
    // against glmnet the same way: tests/testthat/test-multinomial.R:23-33
    // fits lambda=0 and compares after subtracting the last class's
    // coefficients). Softmax parameters are identified only up to a
    // per-feature constant across classes, so both models are brought to
    // the same gauge by the reference-class shift beta_k - beta_K before
    // comparing; mild amplitude keeps the classes overlapping (a
    // separable draw would make the unregularized optimum diverge).
    import spark.implicits._
    val gen = new SlopeFitSpec
    val p = 4
    val (xs, ys) = gen.randomProblem(17, 500, p, qSignal = 0.4,
      amplitude = 1.0, family = "multinomial")
    val fit = Slope.fitLocal(xs, ys, SlopeParams(family = "multinomial",
      sigma = Some(Array(1e-6)), screening = false))
    assert(fit.m == 2)

    val df = xs.zip(ys).toSeq
      .map { case (x, y) => (x, y.toString.drop(1).toDouble) }
      .toDF("features", "label")
    val lr = new org.apache.spark.ml.classification.LogisticRegression()
      .setFamily("multinomial").setRegParam(0.0).setFitIntercept(true)
      .setStandardization(false).setMaxIter(500).setTol(1e-10)
    val anchor = lr.fit(df)
    val cm = anchor.coefficientMatrix // K x p
    val iv = anchor.interceptVector
    val K = fit.m + 1
    for (k <- 0 until fit.m) {
      for (j <- 0 until p) {
        val want = cm(k, j) - cm(K - 1, j)
        val got = fit.coefs(0)(k * p + j)
        assert(math.abs(got - want) < 1e-3,
          s"class $k feature $j: graft $got vs mllib $want")
      }
      val wantB = iv(k) - iv(K - 1)
      assert(math.abs(fit.intercepts(0)(k) - wantB) < 1e-3,
        s"class $k intercept: graft ${fit.intercepts(0)(k)} vs mllib $wantB")
    }
  }
}
