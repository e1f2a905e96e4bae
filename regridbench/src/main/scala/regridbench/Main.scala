package regridbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.regridbench.{CodegenCache, ListenerDrain}
import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** One measured op of the timed loop. */
final case class OpSample(wallS: Double, cpuS: Double, gcS: Double, allocBytes: Long,
                          compiles: Long, items: Long, ok: Boolean, traced: Boolean,
                          error: String)

/** Runs one workload in this JVM and writes its raw measurements as JSON;
  * `run.py` turns them into the reported metrics.
  *
  * Arguments: `--workload --seed --seconds --trace --cores --scratch
  * --t0-ns --out`. `t0-ns` is the epoch time at which the process was
  * launched, so set-up time includes JVM and Spark start. */
object Main {
  private val setupRepeats = 3
  private val maxWarmupS = 8.0
  // a weight-build cycle's first, cold op alone outlasts the cap
  private val minWarmOps = 4
  private val pipelineDocs = 1500
  private val pipelineVecs = 600

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val scratch = opt("scratch")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"regridbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // a weight-build cycle generates about 96 classes and a pipeline
      // pass about 225, more than the default cache of 100 holds, so at
      // the default each op recompiles most of them (1.6-2.5 s per cycle
      // against 1.3-1.4 s, 3.5 s per pass against 1.9 s). The larger
      // cache keeps runs short and steady; a traced run measures that
      // recompile cost (`recompiled` below).
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.local.dir", s"$scratch/local")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val startupS = (epochNs() - opt("t0-ns").toLong) / 1e9

    val tr = new Tracer(sc)
    val listener = if (trace) Some(new GroupListener) else None
    listener.foreach(sc.addSparkListener)
    val w: Workload = workload match {
      case "slab_apply" => new SlabApply(spark, tr, cores, seed)
      case "relational_apply" => new RelationalApply(spark, tr, cores, seed)
      case "weights_build" => new WeightsBuild(spark, tr, cores, seed, s"$scratch/weights")
      case "pipeline_mix" => new PipelineMix(spark, tr, cores, seed, s"$scratch/data",
        s"$scratch/results", pipelineDocs, pipelineVecs)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setups = (1 to setupRepeats).map { i =>
      val t = System.nanoTime()
      w.setup()
      val s = (System.nanoTime() - t) / 1e9
      if (i < setupRepeats) w.teardown()
      s
    }
    val retained = Probes.retainedHeapBytes
    w.prepareChecks()

    def runOp(i: Int, traced: Boolean): OpSample = {
      tr.active = traced
      tr.op = i
      val (cpu0, gc0, al0, cc0) =
        (Probes.cpuNs, Probes.gcMs, Probes.allocatedBytes, Probes.codegenCompiles)
      val t = System.nanoTime()
      val (items, err) =
        try (tr.span("op") { w.op() }, "")
        catch { case e: Exception => (0L, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - t) / 1e9
      tr.active = false
      OpSample(wall, (Probes.cpuNs - cpu0) / 1e9, (Probes.gcMs - gc0) / 1e3,
        Probes.allocatedBytes - al0, Probes.codegenCompiles - cc0, items, err.isEmpty, traced, err)
    }

    // warm up until per-op time stops drifting: the median of the last
    // three ops within 10% of the three before, or `maxWarmupS` and at
    // least `minWarmOps`. First calls run 2-10x slower than later ones,
    // and a weight-build cycle (~50 query plans) takes about 20 s of JIT
    // compilation to settle. The cap keeps four workloads within the
    // benchmark's time budget, so some drift is left in the timed ops.
    val warm = ArrayBuffer.empty[OpSample]
    val warmStart = System.nanoTime()
    def drifting: Boolean = warm.length < 6 || {
      val t = warm.map(_.wallS).takeRight(6)
      val (a, b) = (Stats.median(t.take(3).toSeq), Stats.median(t.drop(3).toSeq))
      math.abs(a - b) > 0.1 * b
    }
    while (warm.length < minWarmOps ||
        (drifting && (System.nanoTime() - warmStart) / 1e9 < maxWarmupS))
      warm += runOp(-1 - warm.length, traced = false)

    // the timed loop: `seconds` long, and at least long enough for a tail
    // percentile (11 ops) untraced, or two traced and two untraced ops
    val minOps = if (trace) 4 else 11
    val steal0 = Probes.stealS
    val ops = ArrayBuffer.empty[OpSample]
    val loopStart = System.nanoTime()
    while (ops.length < minOps || (System.nanoTime() - loopStart) / 1e9 < seconds)
      ops += runOp(ops.length, traced = trace && ops.length % 2 == 0)
    val stealS = Probes.stealS - steal0
    val loadavg = Probes.loadavg

    // ops that compile every generated class again, as an op does when
    // Spark's code cache is smaller than the classes it generates
    val recompiled = if (!trace) Nil else Seq.fill(2) {
      CodegenCache.invalidate()
      runOp(-1000 - ops.length, traced = false)
    }

    if (trace) w.traceExtras()
    listener.foreach(_ => ListenerDrain(sc))

    val out = new StringBuilder
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    out ++= s"""{"workload":${str(workload)},"cores":$cores,"startup_s":${num(startupS)},"""
    out ++= s""""setup_s":[${setups.map(num).mkString(",")}],"retained_heap_bytes":$retained,"""
    out ++= s""""steal_s":${num(stealS)},"loadavg":${num(loadavg)},"""
    def sample(o: OpSample) =
      s"""{"wall_s":${num(o.wallS)},"cpu_s":${num(o.cpuS)},"gc_s":${num(o.gcS)},""" +
        s""""alloc_bytes":${o.allocBytes},"compiles":${o.compiles},"items":${o.items},"ok":${o.ok},""" +
        s""""traced":${o.traced},"error":${str(o.error)}}"""
    out ++= s""""warmup":[${warm.map(sample).mkString(",")}],"""
    out ++= s""""ops":[${ops.map(sample).mkString(",")}],"""
    out ++= s""""recompiled":[${recompiled.map(sample).mkString(",")}],"""
    val oracle = w match {
      case p: PipelineMix => p.oracleSql
      case _ => Map.empty[String, String]
    }
    out ++= s""""oracle":{${oracle.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")}},"""
    out ++= s""""facts":{${w.facts.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString(",")}},"""
    val spans = tr.spans.map { s =>
      val m = listener.fold(new GroupMetrics)(_.of(s"span-${s.id}"))
      s"""{"id":${s.id},"name":${str(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"jobs":${m.jobs},"stages":${m.stages},""" +
        s""""tasks":${m.tasks},"run_ms":${m.runMs},"cpu_ns":${m.cpuNs},""" +
        s""""scheduler_delay_ms":${m.schedulerDelayMs},"shuffle_write_bytes":${m.shuffleWriteBytes},""" +
        s""""shuffle_read_bytes":${m.shuffleReadBytes},"spill_bytes":${m.spillBytes}}"""
    }
    out ++= s""""spans":[${spans.mkString(",")}]}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), out.toString)
    spark.stop()
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
}
