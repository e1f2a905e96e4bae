package regridbench

import org.apache.spark.sql.SparkSession

import graft.regrid.RectGrid

/** Seeded 4-D input `(time, lev, y, x)` on a rectilinear grid: slab k
  * holds `a(k) · wave_smooth(cell) + b(k)`, with `(a, b)` drawn from the
  * seed. The same arrays generate the Spark inputs and the driver-side
  * reference, so a check compares against exactly the data applied. */
final class Inputs(seed: Long, grid: RectGrid, val nTime: Int, val nLev: Int)
    extends Serializable {
  val nSlabs: Int = nTime * nLev
  val nIn: Int = grid.nCells.toInt

  val base: Array[Double] = Array.tabulate(nIn) { c =>
    val lon = grid.lonAxis.start + (c % grid.nx + 0.5) * grid.lonAxis.step
    val lat = grid.latAxis.start + (c / grid.nx + 0.5) * grid.latAxis.step
    2.0 + math.pow(math.cos(math.toRadians(lat)), 2) * math.cos(2.0 * math.toRadians(lon))
  }

  private val rng = new scala.util.Random(seed)
  val a: Array[Double] = Array.fill(nSlabs)(0.5 + rng.nextDouble())
  val b: Array[Double] = Array.fill(nSlabs)(rng.nextDouble() - 0.5)

  /** Slab index k ↔ (time, lev), both 1-based as in the reference's case. */
  def time(k: Int): Int = k / nLev + 1
  def lev(k: Int): Int = k % nLev + 1
  def index(time: Int, lev: Int): Int = (time - 1) * nLev + (lev - 1)
  /** Packed slab id, as the slab layout carries extra dims (`time * 64 + lev`). */
  def slabId(k: Int): Long = time(k) * 64L + lev(k)
  def indexOfSlabId(id: Long): Int = index((id / 64).toInt, (id % 64).toInt)

  def slab(k: Int): Array[Double] = {
    val out = new Array[Double](nIn)
    val ak = a(k); val bk = b(k)
    var c = 0
    while (c < nIn) { out(c) = ak * base(c) + bk; c += 1 }
    out
  }
}

/** Driver-side copy of W (COO) and the references the apply checks use. */
final class WeightsRef(val row: Array[Int], val col: Array[Int], val s: Array[Double],
                       val nOut: Int) {
  /** out = W · x, the reference kernel of `xesmf/smm.py:90`. */
  def apply(x: Array[Double]): Array[Double] = {
    val out = new Array[Double](nOut)
    var j = 0
    while (j < s.length) { out(row(j)) += s(j) * x(col(j)); j += 1 }
    out
  }

  /** Σ_d (W·(a·base + b))_d = a · Σ_j s_j base(col_j) + b · Σ_j s_j. */
  def totals(base: Array[Double]): (Double, Double) = {
    var t1 = 0.0; var t0 = 0.0; var j = 0
    while (j < s.length) { t1 += s(j) * base(col(j)); t0 += s(j); j += 1 }
    (t1, t0)
  }
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

object Check {
  def close(got: Double, want: Double, relTol: Double, what: => String): Unit =
    if (!(math.abs(got - want) <= relTol * math.max(1.0, math.abs(want))))
      throw new CheckFailed(s"$what: got $got, want $want")

  def that(ok: Boolean, what: => String): Unit = if (!ok) throw new CheckFailed(what)
}

/** Seeded tables for the pipeline queries, in the shape of the
  * repository's test data: `documents (doc_id, text, lang, source,
  * n_chars)` over a 31-word vocabulary, with every tenth document a
  * near-duplicate of an earlier one, and `embeddings (vec_id,
  * embedding float[64], label)` drawn around ten label centres. */
object PipelineInputs {
  private val vocab = ("a the data spark scan sort hash join group agg filter window " +
    "key value row column table query part line order customer vector batch stream " +
    "merge fast slow big small").split(" ")
  private val langs = Array("en", "zh", "de", "fr", "es")
  private val dim = 64

  def write(spark: SparkSession, seed: Long, dir: String, nDocs: Int, nVecs: Int): Unit = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    val tokens = new Array[Array[String]](nDocs)
    val docs = (0 until nDocs).map { i =>
      tokens(i) =
        if (i > 0 && rng.nextInt(10) == 0)
          tokens(rng.nextInt(i)).map(t => if (rng.nextInt(20) == 0) vocab(rng.nextInt(vocab.length)) else t)
        else Array.fill(10 + rng.nextInt(90))(vocab(rng.nextInt(vocab.length)))
      val text = tokens(i).mkString(" ")
      (i.toLong, text, langs(rng.nextInt(langs.length)), s"src${i % 20}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def unit(v: Array[Double]) = { val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n) }
    val centres = Array.fill(10)(unit(Array.fill(dim)(rng.nextGaussian())))
    val vecs = (0 until nVecs).map { i =>
      val label = rng.nextInt(centres.length)
      val v = unit(centres(label).map(_ + 0.6 * rng.nextGaussian() / math.sqrt(dim)))
      (i.toLong, v.map(_.toFloat), label)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
