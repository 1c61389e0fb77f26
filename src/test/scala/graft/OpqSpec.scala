package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Opq, Similarity}

/** OPQ rotation (Ge et al. 2013 parametric solution): orthonormality /
  * dot-preservation invariants of the learned rotation, the
  * eigenvalue-allocation balance (including the eigvals < 1 regime
  * every unit-normalized corpus lives in), recall ≥ flat PQ at equal
  * (m, nCodes) on a planted ANISOTROPIC corpus (the testdata
  * embeddings are isotropic — OPQ's provable no-gain case — so the
  * corpus here concentrates its variance in the first four raw
  * coordinates, the shape where flat contiguous splitting is worst),
  * and artifact round-trip / indexed-serving bit-equality. */
class OpqSpec extends AnyFunSuite with SparkSessionTestBase {

  /** Planted anisotropic corpus: dims 0..3 carry N(0,1) signal, dims
    * 4..15 carry N(0,0.05) noise — under the flat contiguous m=4
    * split, subspace 0 hoards all the variance while three subspaces
    * quantize noise. Seeded: bit-identical across runs. */
  private lazy val planted: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val rows = (0L until 300L).map { id =>
      val v = Array.tabulate(16) { j =>
        val scale = if (j < 4) 1.0f else 0.05f
        rnd.nextGaussian().toFloat * scale
      }
      (id, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  private lazy val model = Opq.opqTrain(
    planted.select(col("vec_id"),
      expr("transform(cast(embedding as array<double>), " +
        "x -> x / sqrt(aggregate(transform(cast(embedding as array<double>)," +
        " y -> y * y), 0d, (a, b) -> a + b)))").as("embedding")),
    m = 4)

  test("rotation rows are orthonormal and preserve dot products") {
    val d = 16
    assert(model.rows.length === d)
    for (i <- 0 until d; j <- i until d) {
      val dot = model.rows(i).zip(model.rows(j)).map { case (a, b) => a * b }.sum
      val want = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - want) < 1e-9, s"rows($i)·rows($j)=$dot")
    }
    // pure rotation: pairwise dots (hence cosines and norms) preserved
    val rnd = new scala.util.Random(7)
    val x = Array.fill(d)(rnd.nextGaussian())
    val y = Array.fill(d)(rnd.nextGaussian())
    def rot(v: Array[Double]) =
      model.rows.map(r => r.zip(v).map { case (a, b) => a * b }.sum)
    val (rx, ry) = (rot(x), rot(y))
    val orig = x.zip(y).map { case (a, b) => a * b }.sum
    val rotd = rx.zip(ry).map { case (a, b) => a * b }.sum
    assert(math.abs(orig - rotd) < 1e-9, s"dot drift: $orig vs $rotd")
  }

  test("eigenvalue allocation balances variance across subspaces (eigvals < 1 regime)") {
    // normalized-corpus eigenvalues sum to < 1, so every one is < 1 —
    // the regime where the unshifted Ge greedy degenerates into the
    // contiguous PCA split (all signal in subspace 0)
    assert(model.eigvals.forall(_ < 1.0))
    assert(model.eigvals.forall(_ >= 0.0) || model.eigvals.forall(_ > -1e-12))
    // four signal directions → exactly ONE top-4 eigenvalue per
    // subspace (rows s*4..s*4+3 belong to subspace s)
    val top4 = model.eigvals.sorted.reverse.take(4).min
    val perSub = model.eigvals.grouped(4)
      .map(_.count(_ >= top4)).toSeq
    assert(perSub === Seq(1, 1, 1, 1),
      s"signal directions per subspace: $perSub (eigvals ${model.eigvals.toSeq})")
  }

  test("OPQ recall at equal (m, nCodes) beats flat PQ on the anisotropic corpus") {
    val exact = Similarity.embedTopK(planted, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // rerankFactor = 1 makes the survivor pool exactly k, so pool
    // selection is purely ADC-driven — the configuration where code
    // quality shows (the residual-IVFPQ spec's posture)
    def recallOf(df: DataFrame) = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val flat = recallOf(Similarity.embedPqTopK(planted,
      nQueries = 10, k = 5, m = 4, nCodes = 8, rerankFactor = 1))
    val opq = recallOf(Similarity.embedOpqPqTopK(planted,
      nQueries = 10, k = 5, m = 4, nCodes = 8, rerankFactor = 1))
    info(s"recall flat=$flat opq=$opq")
    // the rotation spends the same code budget where the structure is
    assert(opq >= flat, s"opq=$opq flat=$flat")
    assert(opq > 0.3, s"opq=$opq")
    // determinism: seeded PCA sample, fixed Jacobi sweeps, no RNG
    val a = Similarity.embedOpqPqTopK(planted,
      nQueries = 10, k = 5, m = 4, nCodes = 8, rerankFactor = 1)
      .collect().map(_.toString).toSeq
    val b = Similarity.embedOpqPqTopK(planted,
      nQueries = 10, k = 5, m = 4, nCodes = 8, rerankFactor = 1)
      .collect().map(_.toString).toSeq
    assert(a === b)
  }

  test("dimension-reduced OPQ (outDim < d) holds recall with half the PQ input width") {
    val exact = Similarity.embedTopK(planted, nQueries = 10, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val flat = recallOf(Similarity.embedPqTopK(planted,
      nQueries = 10, k = 5, m = 4, nCodes = 8, rerankFactor = 1))
    // FAISS OPQ4_8 over d=16: the kept top-8 eigen-directions carry
    // the 4 signal dims plus the largest noise; the dropped half is
    // noise-only, so the same (m, nCodes) budget over half the input
    // width must still beat the flat contiguous split
    val reduced = recallOf(Similarity.embedOpqPqTopK(planted,
      nQueries = 10, k = 5, m = 4, nCodes = 8, rerankFactor = 1,
      outDim = 8))
    info(s"recall flat=$flat reduced-opq=$reduced")
    assert(reduced >= flat, s"reduced=$reduced flat=$flat")
    assert(reduced > 0.3, s"reduced=$reduced")
    // the reduced model is a projection: outDim rows, each still a
    // unit vector in the ORIGINAL d-space, pairwise orthogonal
    val rm = Opq.opqTrain(
      planted.select(col("vec_id"),
        expr("transform(cast(embedding as array<double>), " +
          "x -> x / sqrt(aggregate(transform(cast(embedding as array<double>)," +
          " y -> y * y), 0d, (a, b) -> a + b)))").as("embedding")),
      m = 4, outDim = 8)
    assert(rm.rows.length === 8)
    assert(rm.rows.forall(_.length === 16))
    for (i <- rm.rows.indices; j <- i until rm.rows.length) {
      val dot = rm.rows(i).zip(rm.rows(j)).map { case (a, b) => a * b }.sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9)
    }
    // determinism across runs
    val again = recallOf(Similarity.embedOpqPqTopK(planted,
      nQueries = 10, k = 5, m = 4, nCodes = 8, rerankFactor = 1,
      outDim = 8))
    assert(again === reduced)
  }

  test("indexed serving from the persisted triple is bit-equal to inline") {
    val emb = Tables.embeddings(spark, sfDir)
    val inline = Similarity.embedOpqPqTopK(emb)
      .collect().map(_.toString).toSeq
    assert(inline.nonEmpty)
    val (codes, cents, rot) = Similarity.opqPqIndex(emb)
    val dir = tempRoot("opq").toString
    codes.write.parquet(s"$dir/codes")
    cents.write.parquet(s"$dir/codebooks")
    rot.write.parquet(s"$dir/rotation")
    val served = Similarity.embedOpqPqTopKFromIndex(
      spark.read.parquet(s"$dir/codes"),
      spark.read.parquet(s"$dir/codebooks"),
      spark.read.parquet(s"$dir/rotation"),
      emb).collect().map(_.toString).toSeq
    assert(served === inline)
    // rotation artifact round-trips the model exactly
    val back = Opq.opqModelFromFrame(spark.read.parquet(s"$dir/rotation"))
    val trained = Opq.opqModelFromFrame(rot)
    assert(back.rows.map(_.toSeq).toSeq === trained.rows.map(_.toSeq).toSeq)
    assert(back.eigvals.toSeq === trained.eigvals.toSeq)
  }
}
