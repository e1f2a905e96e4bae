package regridbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.regrid._

/** One closed-loop workload: one client, one op type. */
abstract class Workload(val spark: SparkSession, val tr: Tracer, val cores: Int) {
  /** Inputs, caches and regridder state the timed ops need. Repeated
    * (with [[teardown]] in between) so set-up time is a median. */
  def setup(): Unit
  def teardown(): Unit
  /** Driver-side references for the output checks; not part of set-up. */
  def prepareChecks(): Unit = ()
  /** One op, its output checked; returns the work items it completed.
    * Throws [[CheckFailed]] (or anything else) when the op fails. */
  def op(): Long
  /** Extra layer measurements, taken once after the traced loop. */
  def traceExtras(): Unit = ()
  /** Layer facts (counts and timings outside the ops), by metric name. */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  protected def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }
}

/** BASELINE's 4-D case: bilinear 400×600 → 300×400 (W nnz 478,400). */
abstract class ApplyWorkload(spark: SparkSession, tr: Tracer, cores: Int, seed: Long,
                             nTime: Int, nLev: Int)
    extends Workload(spark, tr, cores) {
  val gridIn: RectGrid = RectGrid.of(-120, 120, 0.4, -60, 60, 0.3)
  val gridOut: RectGrid = RectGrid.of(-120, 120, 0.6, -60, 60, 0.4)
  val inputs = new Inputs(seed, gridIn, nTime, nLev)
  protected var regridder: Regridder = _
  protected var ref: WeightsRef = _
  protected var totals: (Double, Double) = _

  protected def newRegridder(): Regridder = {
    val r = new Regridder(spark, RectDef(gridIn), RectDef(gridOut), RegridMethod.Bilinear)
    r.weights.count()
    r
  }

  override def prepareChecks(): Unit = {
    val w = regridder.weights
      .select(col("row").cast("int"), col("col").cast("int"), col("s")).collect()
    ref = new WeightsRef(w.map(_.getInt(0)), w.map(_.getInt(1)), w.map(_.getDouble(2)),
      gridOut.nCells.toInt)
    totals = ref.totals(inputs.base)
  }

  protected def checkTotal(k: Int, got: Double, relTol: Double): Unit =
    Check.close(got, inputs.a(k) * totals._1 + inputs.b(k) * totals._2, relTol,
      s"slab (time ${inputs.time(k)}, lev ${inputs.lev(k)}) total")
}

/** The dense broadcast-W kernel ([[SlabApplier]]) over 10×50 slab-major
  * slabs (120 M source values): no shuffle, no weight build per op. */
final class SlabApply(spark: SparkSession, tr: Tracer, cores: Int, seed: Long)
    extends ApplyWorkload(spark, tr, cores, seed, 10, 50) {
  import spark.implicits._

  private var slabs: DataFrame = _
  private val collectW = mutable.ArrayBuffer.empty[Double]
  private val sample: Seq[Int] = {
    val rng = new scala.util.Random(seed ^ 0x5eedL)
    Seq.fill(2)(rng.nextInt(inputs.nSlabs)).distinct
  }

  def setup(): Unit = {
    val in = inputs
    slabs = spark.range(0, in.nSlabs, 1, cores).as[Long]
      .map(k => (in.slabId(k.toInt), in.slab(k.toInt)))
      .toDF("slab_id", "values").cache()
    slabs.count()
    regridder = newRegridder()
    // the collect-W broadcast of the dense kernel, timed on its own
    collectW += timed(regridder.slabApplier)._2
    facts("regridder.collect_w_s") = Stats.median(collectW.toSeq)
  }

  def teardown(): Unit = {
    regridder.close()
    slabs.unpersist(blocking = true)
  }

  def op(): Long = {
    val out = tr.span("regridder.apply") { regridder.apply(slabs) }
    val rows = tr.span("slab.action") {
      out.selectExpr("slab_id", "aggregate(values, 0D, (acc, x) -> acc + x) AS total",
        s"CASE WHEN slab_id IN (${sample.map(inputs.slabId).mkString(", ")}) " +
          "THEN values END AS full").collect()
    }
    tr.span("check") {
      Check.that(rows.length == inputs.nSlabs, s"${rows.length} slabs out, ${inputs.nSlabs} in")
      rows.foreach { r =>
        val k = inputs.indexOfSlabId(r.getLong(0))
        checkTotal(k, r.getDouble(1), 1e-9)
        if (!r.isNullAt(2)) {
          val got = r.getSeq[Double](2)
          val want = ref(inputs.slab(k))
          Check.that(got.length == want.length, s"slab $k has ${got.length} values")
          var d = 0
          while (d < want.length) {
            Check.close(got(d), want(d), 1e-9, s"slab $k cell $d")
            d += 1
          }
        }
      }
    }
    inputs.nSlabs.toLong * inputs.nIn
  }

  override def traceExtras(): Unit = {
    facts("slab.scan_floor_s") = Stats.median(Seq.fill(5) {
      timed(slabs.as[(Long, Array[Double])]
        .mapPartitions(it => Iterator.single(it.map(_._2.length.toLong).sum))
        .collect())._2
    })
    val nnz = ref.s.length.toDouble
    val slabsN = inputs.nSlabs.toDouble
    facts("slab.flops") = 2 * nnz * slabsN
    facts("slab.bytes_computed") =
      16 * nnz * slabsN + 8.0 * slabsN * (inputs.nIn + gridOut.nCells)
    facts("stream.triad_gbps") = Stream.triadGbps(cores)
  }
}

/** The same regridder on a tall `(cell_id, time, lev, value)` field
  * (10×2 slabs, 4.8 M rows): the broadcast join + group-by path. */
final class RelationalApply(spark: SparkSession, tr: Tracer, cores: Int, seed: Long)
    extends ApplyWorkload(spark, tr, cores, seed, 10, 2) {
  import spark.implicits._

  private var field: DataFrame = _
  private var sampleRef: (Double, Double) = _
  private val sampleEvery = 997

  def setup(): Unit = {
    val in = inputs
    field = spark.range(0, in.nSlabs, 1, cores).as[Long]
      .flatMap { k =>
        val v = in.slab(k.toInt)
        val (t, l) = (in.time(k.toInt), in.lev(k.toInt))
        Iterator.tabulate(in.nIn)(c => (c.toLong, t, l, v(c)))
      }
      .toDF("cell_id", "time", "lev", "value").cache()
    field.count()
    regridder = newRegridder()
  }

  def teardown(): Unit = {
    regridder.close()
    field.unpersist(blocking = true)
  }

  override def prepareChecks(): Unit = {
    super.prepareChecks()
    // Σ_{d % 997 = 0} (d + 1) · (W·x)_d is linear in x = a·base + b
    def sampled(x: Array[Double]): Double = {
      val y = ref(x)
      (y.indices by sampleEvery).map(d => (d + 1) * y(d)).sum
    }
    sampleRef = (sampled(inputs.base), sampled(Array.fill(inputs.nIn)(1.0)))
  }

  def op(): Long = {
    val out = tr.span("regridder.apply") { regridder.apply(field, Seq("time", "lev")) }
    val rows = tr.span("apply.action") {
      out.groupBy("time", "lev").agg(sum("value"),
        sum(when(col("cell_id") % sampleEvery === 0, col("value") * (col("cell_id") + 1))))
        .collect()
    }
    tr.span("check") {
      Check.that(rows.length == inputs.nSlabs, s"${rows.length} slabs out, ${inputs.nSlabs} in")
      rows.foreach { r =>
        val k = inputs.index(r.getInt(0), r.getInt(1))
        checkTotal(k, r.getDouble(2), 1e-8)
        Check.close(r.getDouble(3), inputs.a(k) * sampleRef._1 + inputs.b(k) * sampleRef._2,
          1e-8, s"slab $k sampled cells")
      }
    }
    inputs.nSlabs.toLong * inputs.nIn
  }
}

/** One fixed cycle of weight builds, each forced: bilinear 400×600 →
  * 300×400 (BASELINE's grids), patch 200×300 → 150×200, conservative
  * and nearest_s2d global 2° → 3°, conservative from a 2° rotated-pole
  * (curvilinear) mesh to a 1° grid; then the bilinear regridder
  * persisted under `weightsDir` and rebuilt from it with `reuseWeights`.
  * Patch and the global pairs are 4× smaller than the reference's cases
  * so that a cycle takes about 1.4 s (4 s at the reference sizes); below
  * these sizes a cycle does not get faster, as its ~50 Spark jobs then
  * dominate. */
final class WeightsBuild(spark: SparkSession, tr: Tracer, cores: Int, seed: Long,
                         weightsDir: String)
    extends Workload(spark, tr, cores) {

  // the seed shifts the regional destination grids by under a cell
  private val shift = new scala.util.Random(seed).nextDouble() * 0.1
  private val bilIn = RectGrid.of(-120, 120, 0.4, -60, 60, 0.3)
  private val bilOut = RectGrid.of(-120 + shift, 120 + shift, 0.6, -60 + shift, 60 + shift, 0.4)
  private val patchIn = RectGrid.of(-120, 120, 0.8, -60, 60, 0.6)
  private val patchOut = RectGrid.of(-120 + shift, 120 + shift, 1.2, -60 + shift, 60 + shift, 0.8)
  private val globIn = RectGrid.of(-180, 180, 2.0, -90, 90, 2.0)
  private val globOut = RectGrid.of(-180, 180, 3.0, -90, 90, 3.0)
  private val rot = RectGrid.of(2, 62, 2, -30, 30, 2)
  private val curvOut = RectGrid.of(-25 + shift, shift, 1.0, 5 + shift, 30 + shift, 1.0)

  private var curvIn: CurvDef = _
  private val pinnedNnz = mutable.Map.empty[String, Long]
  // wave_smooth at the cell centres of the global pair
  private val waveIn = new Inputs(0, globIn, 1, 1).base
  private val waveExact = new Inputs(0, globOut, 1, 1).base

  def setup(): Unit =
    curvIn = CurvDef(Curvilinear.rotatedCells(spark, rot, 70.0, -165.0),
      Some(Curvilinear.rotatedCorners(spark, rot, 70.0, -165.0)), rot.ny, rot.nx)

  def teardown(): Unit = ()

  private def bilinear(weightsDir: Option[String] = None, reuse: Boolean = false) =
    new Regridder(spark, RectDef(bilIn), RectDef(bilOut), RegridMethod.Bilinear,
      weightsDir = weightsDir, reuseWeights = reuse)

  private val builds: Seq[(String, () => Regridder)] = Seq(
    "bilinear" -> (() => bilinear()),
    "patch" -> (() =>
      new Regridder(spark, RectDef(patchIn), RectDef(patchOut), RegridMethod.Patch)),
    "conservative" -> (() =>
      new Regridder(spark, RectDef(globIn), RectDef(globOut), RegridMethod.Conservative)),
    "nearest_s2d" -> (() =>
      new Regridder(spark, RectDef(globIn), RectDef(globOut), RegridMethod.NearestS2D)),
    "conservative_curv" -> (() =>
      new Regridder(spark, curvIn, RectDef(curvOut), RegridMethod.Conservative)))

  private def pin(name: String, nnz: Long): Unit = {
    val want = pinnedNnz.getOrElseUpdate(name, nnz)
    Check.that(nnz == want, s"$name nnz $nnz, pinned at $want")
    facts(s"weights.$name.nnz") = nnz.toDouble
  }

  private def checkWeights(name: String, w: DataFrame): Unit = name match {
    case "bilinear" =>
      val r = w.groupBy("row").agg(sum("s").as("rs")).agg(min("rs"), max("rs")).head()
      Check.that(math.abs(r.getDouble(0) - 1) < 1e-9 && math.abs(r.getDouble(1) - 1) < 1e-9,
        s"bilinear row sums in [${r.getDouble(0)}, ${r.getDouble(1)}], want 1")
    case "conservative" =>
      val t = w.select(col("row").cast("int"), col("col").cast("int"), col("s")).collect()
      val ref = new WeightsRef(t.map(_.getInt(0)), t.map(_.getInt(1)), t.map(_.getDouble(2)),
        globOut.nCells.toInt)
      val ones = ref(Array.fill(waveIn.length)(1.0))
      Check.that(ones.forall(x => math.abs(x - 1) < 1e-9), "conservative row sums differ from 1")
      // reference test_frontend.py:186-187: max rel err < 0.05
      val out = ref(waveIn)
      val err = out.indices.map(d => math.abs(out(d) - waveExact(d)) / waveExact(d)).max
      Check.that(err < 0.05, s"conservative wave_smooth max rel err $err")
    case _ => ()
  }

  def op(): Long = {
    var emitted = 0L
    builds.foreach { case (name, mk) =>
      val r = mk()
      try {
        val nnz = tr.span(s"weights.$name") { r.weights.count() }
        emitted += nnz
        tr.span("check") { pin(name, nnz); checkWeights(name, r.weights) }
      } finally r.close()
    }

    val persisted = bilinear(Some(weightsDir))
    persisted.cleanWeightFile()
    val nnz = try tr.span("regridder.persist") { persisted.weights.count() }
      finally persisted.close()
    emitted += nnz
    val file = new java.io.File(weightsDir, persisted.defaultFilename)
    facts("weights.disk_bytes_per_triplet") = dirBytes(file).toDouble / nnz

    val reused = bilinear(Some(weightsDir), reuse = true)
    try {
      val back = tr.span("regridder.reuse") { reused.weights.count() }
      tr.span("check") {
        pin("bilinear", nnz)
        Check.that(back == nnz, s"reused $back triplets, persisted $nnz")
      }
      reused.cleanWeightFile()
    } finally reused.close()
    emitted
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".parquet")) f.length()
    else 0L
}

/** STREAM triad `a = b + s·c` over `cores` threads: the sustainable
  * memory bandwidth the slab kernel is bounded by. Each array is 128 MiB,
  * four times this host's 32 MiB last-level cache. */
object Stream {
  def triadGbps(cores: Int): Double = {
    val n = 16 << 20
    val a = new Array[Double](n); val b = Array.fill(n)(1.0); val c = Array.fill(n)(2.0)
    val chunk = (n + cores - 1) / cores
    def pass(): Double = {
      val t = System.nanoTime()
      val ts = (0 until cores).map { p =>
        val th = new Thread(() => {
          var i = p * chunk
          val end = math.min(n, i + chunk)
          while (i < end) { a(i) = b(i) + 3.0 * c(i); i += 1 }
        })
        th.start(); th
      }
      ts.foreach(_.join())
      24.0 * n / ((System.nanoTime() - t) / 1e9) / 1e9
    }
    Seq.fill(5)(pass()).max
  }
}

/** One pass of three pipeline queries through `graft.SparkEntry.queries`,
  * one from each of dedup, ANN and sketches: `q_dedup_incremental`
  * (MinHash LSH of a new batch against a standing corpus),
  * `q_ann_pq` (IVF-PQ index trained and queried) and
  * `q_classifier_auc` (exact per-source AUC). These three write nothing
  * to disk. Their persisting twins `q_ann_refresh_serve` and
  * `q_auc_merged` write snapshots under a fixed absolute directory
  * (`PipelineQueries.sketchIoPath`), not under the working directory,
  * so the benchmark does not run them. Inputs are seeded tables of
  * `nDocs` documents and `nVecs` embeddings under `dataDir`. Set-up
  * writes each query's first result under `resultsDir`, where `run.py`
  * checks it against the query's DuckDB oracle; every op must reproduce
  * that result's digest. */
final class PipelineMix(spark: SparkSession, tr: Tracer, cores: Int, seed: Long,
                        dataDir: String, resultsDir: String, nDocs: Int, nVecs: Int)
    extends Workload(spark, tr, cores) {
  import PipelineMix.{digest, queries}

  private val fns = graft.SparkEntry.queries
  val oracleSql: Map[String, String] = queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
  private val digests = mutable.Map.empty[String, String]

  def setup(): Unit = PipelineInputs.write(spark, seed, dataDir, nDocs, nVecs)

  // the next set-up overwrites the tables
  def teardown(): Unit = ()

  override def prepareChecks(): Unit = queries.foreach { q =>
    fns(q)(spark, dataDir).write.mode("overwrite").parquet(s"$resultsDir/$q")
    digests(q) = digest(spark.read.parquet(s"$resultsDir/$q").collect())
  }

  def op(): Long = {
    queries.foreach { q =>
      val rows = tr.span(s"pipeline.$q") { fns(q)(spark, dataDir).collect() }
      tr.span("check") {
        val d = digest(rows)
        Check.that(d == digests(q), s"$q: result digest $d, verified ${digests(q)}")
      }
    }
    queries.length
  }
}

object PipelineMix {
  val queries: Seq[String] = Seq("q_dedup_incremental", "q_ann_pq", "q_classifier_auc")

  /** Order-independent digest of a result: SHA-256 of its sorted rows. */
  def digest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
