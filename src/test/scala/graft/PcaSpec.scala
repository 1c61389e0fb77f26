package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pca

class PcaSpec extends AnyFunSuite with SparkSessionTestBase {

  private lazy val emb = Tables.embeddings(spark, sfDir)
  // train on the WHOLE sf0.001 table (50 vecs < maxTrain) so the
  // eigen-invariants below hold exactly over the projected corpus
  private lazy val model = Pca.pcaTrain(emb, k = 8)
  private lazy val dim = model.mean.length

  test("components are orthonormal and eigenvalues descend") {
    for (a <- model.comps.indices; b <- a until model.comps.length) {
      val dot = model.comps(a).zip(model.comps(b)).map { case (x, y) => x * y }.sum
      if (a == b) assert(math.abs(dot - 1.0) < 1e-9, s"‖v$a‖² = $dot")
      else assert(math.abs(dot) < 1e-9, s"v${a}.v$b = $dot")
    }
    assert(model.eigvals.sameElements(model.eigvals.sortBy(-_)))
    assert(model.eigvals.forall(_ >= -1e-12))
  }

  test("projected corpus covariance is diag(eigvals); trace is preserved") {
    val proj = Pca.pcaProject(emb, model).collect()
      .map(_.getSeq[Double](1).toArray)
    val n = proj.length.toDouble
    val k = model.eigvals.length
    val pm = new Array[Double](k)
    for (p <- proj; c <- 0 until k) pm(c) += p(c) / n
    val cov = Array.ofDim[Double](k, k)
    for (p <- proj; a <- 0 until k; b <- 0 until k)
      cov(a)(b) += (p(a) - pm(a)) * (p(b) - pm(b)) / n
    for (a <- 0 until k; b <- 0 until k) {
      val expected = if (a == b) model.eigvals(a) else 0.0
      assert(math.abs(cov(a)(b) - expected) < 1e-8,
        s"projCov($a,$b) = ${cov(a)(b)}, expected $expected")
    }
    // full-rank sanity: total variance equals the eigenvalue sum
    val full = Pca.pcaTrain(emb, k = dim)
    val xs = emb.select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val mean = full.mean
    val trace = (0 until dim).map { j =>
      xs.map(x => (x(j) - mean(j)) * (x(j) - mean(j))).sum / xs.length
    }.sum
    assert(math.abs(full.eigvals.sum - trace) < 1e-8 * math.max(1.0, trace))
  }

  test("top-k reconstruction error equals the dropped eigenvalue mass") {
    val k = 8
    val full = Pca.pcaTrain(emb, k = dim)
    val xs = emb.select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    val mean = full.mean
    // mean squared reconstruction error using the top-k basis
    val topK = full.comps.take(k)
    val err = xs.map { x =>
      val centered = x.zip(mean).map { case (a, b) => a - b }
      val projs = topK.map(v => v.zip(centered).map { case (a, b) => a * b }.sum)
      val recon = Array.tabulate(dim)(j =>
        topK.zipWithIndex.map { case (v, c) => projs(c) * v(j) }.sum)
      centered.zip(recon).map { case (a, b) => (a - b) * (a - b) }.sum
    }.sum / xs.length
    val dropped = full.eigvals.drop(k).sum
    assert(math.abs(err - dropped) < 1e-8 * math.max(1.0, dropped),
      s"reconstruction error $err vs dropped mass $dropped")
  }

  test("model artifact round-trips; projections identical; sign is fixed") {
    val frame = Pca.pcaModelFrame(spark, model)
    val dir = tempRoot("pca_idx").toString
    frame.write.mode("overwrite").parquet(dir)
    val back = Pca.pcaModelFromFrame(spark.read.parquet(dir))
    assert(back.mean.sameElements(model.mean))
    assert(back.eigvals.sameElements(model.eigvals))
    assert(back.comps.zip(model.comps).forall { case (a, b) => a.sameElements(b) })
    val p1 = Pca.pcaProject(emb, model).collect().map(_.toString).toSeq
    val p2 = Pca.pcaProject(emb, back).collect().map(_.toString).toSeq
    assert(p1 === p2)
    // deterministic sign convention: the largest-|entry| coordinate of
    // every component is non-negative
    model.comps.foreach { c =>
      val m = c.indices.maxBy(j => (math.abs(c(j)), -j))
      assert(c(m) >= 0.0)
    }
  }

  test("exploded projection is bit-equal to the array form (checker-safe twin)") {
    val arr = Pca.pcaProject(emb, model)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))
      .select(col("vec_id"), col("dim"), round(col("v"), 6).as("value"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val exploded = Pca.pcaProjectExploded(emb, model)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    assert(exploded === arr)
    // every column atomic — the r7 driver checker crashed on arrays
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    assert(Pca.pcaProjectExploded(emb, model).schema.fields.forall(_.dataType match {
      case _: ArrayType | _: MapType | _: StructType => false
      case _ => true
    }))
  }

  test("degenerate inputs fail loudly or stay bounded") {
    intercept[IllegalArgumentException] {
      Pca.pcaTrain(emb.limit(0))
    }
    intercept[IllegalArgumentException] {
      Pca.pcaTrain(emb, k = 1000)
    }
    // a single vector has zero covariance: eigvals all ~0, no NaNs
    val one = Pca.pcaTrain(emb.limit(1), k = 2)
    assert(one.eigvals.forall(v => math.abs(v) < 1e-12))
    assert(one.comps.forall(_.forall(x => !x.isNaN)))
  }
}
