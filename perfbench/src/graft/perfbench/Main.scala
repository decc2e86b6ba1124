package graft.perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in a fresh JVM over inputs already generated
  * under `--work`/inputs: build the session, run the workload's
  * engine-side set-up, time the first (cold) op, finish the untimed
  * warm-up pass, run timed passes for `--seconds`, check outputs, and
  * write `run.json` (plus `spans.jsonl` when tracing) under `--work`.
  *
  * {{{
  *   graft.perfbench.Main --workload etl_export --seed 1 --seconds 10 --trace 0 \
  *     --work <dir> [--cores n]
  * }}}
  */
object Main {

  /** Passes a run times at least, however short `--seconds` is: the
    * median of three rejects one slow pass (a burst of load on a shared
    * host), and three passes leave >= 10 op samples beyond the tail
    * percentile.
    */
  val TimedPasses = 3

  /** Untimed passes between the cold pass and the timed ones. Pass
    * times fall for several passes after the cold one while the JIT
    * compiles the hot paths (registry on 4 cores: 5.5, 4.7, 4.4, 4.2,
    * 4.0, then about 3.9 s); timing the steep start measures how fast
    * the JIT got CPU, not the program. Two passes take the steep part
    * and keep a run within its time budget.
    */
  val WarmPasses = 2

  /** A timed pass is clean when the hypervisor stole at most this share
    * of the machine's CPU time while it ran. On a shared host, steal
    * comes in bursts that slow a pass by up to 2x (12 % steal: 7.9 s
    * for a 3.9 s pass); passes without it steal under 1 %.
    */
  val MaxSteal = 0.02

  /** Timed passes go on past `--seconds`, up to this multiple of it,
    * until TimedPasses clean ones are done.
    */
  val MaxOverrun = 2.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val cores = a.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder(master = s"local[$cores]", shufflePartitions = cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()
    try run(spark, workload, seed, seconds, trace, work, cores, sessionReady)
    finally spark.stop()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Linear-interpolated quantile of sorted samples. */
  private def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val (lo, hi) = (pos.floor.toInt, pos.ceil.toInt)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Codegen compile count and summed milliseconds from Spark's
    * `CodegenMetrics` histogram (exact while it holds < 1028 samples).
    */
  private def codegen(): (Long, Double) = {
    val cls = Class.forName("org.apache.spark.metrics.source.CodegenMetrics$")
    val h = cls.getMethod("METRIC_COMPILATION_TIME").invoke(cls.getField("MODULE$").get(null))
      .asInstanceOf[com.codahale.metrics.Histogram]
    (h.getCount, h.getSnapshot.getValues.sum.toDouble)
  }

  /** (CPU ticks of every state, steal ticks) summed over the machine's
    * CPUs, from /proc/stat. Steal is the time the hypervisor ran other
    * guests on the CPUs this one was given.
    */
  private def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (v.sum, if (v.length == 8) v(7) else 0L)
    } finally src.close()
  }

  /** Share of the machine's CPU time stolen since `from` (a `cpuTicks`). */
  private def stealSince(from: (Long, Long)): Double = {
    val (all, steal) = cpuTicks()
    (steal - from._2).toDouble / math.max(1L, all - from._1)
  }

  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  private final case class Exec(op: String, pass: Int, traced: Boolean, seconds: Double,
      result: Long, failure: Option[String])

  private def run(spark: org.apache.spark.sql.SparkSession, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: String, cores: Int, sessionReady: Long): Unit = {
    val tr = new Tracer(spark, trace)
    val wl = Workload(workload, spark, seed, work, tr)
    wl.setup()
    val setupReady = System.currentTimeMillis()

    val execs = mutable.ArrayBuffer.empty[Exec]
    val passSeconds = mutable.Map.empty[Int, Double]
    val passTraced = mutable.Map.empty[Int, Boolean]
    val passBytes = mutable.Map.empty[Int, Map[String, Long]]
    val passSpans = mutable.Map.empty[Int, (Int, Int)]
    val passSteal = mutable.Map.empty[Int, Double]

    def exec(op: Op, pass: Int): Exec = {
      val (r, s) = time(scala.util.Try(tr.op(op.name)(op.body())))
      if (tr.active) tr.spans.reverseIterator.find(_.parent == -1).foreach(root =>
        r.foreach(n => root.m("rows") = n.toDouble))
      val failure = r.fold(e => Some(s"threw: ${e.toString.take(300)}"),
        n => scala.util.Try(op.check(n)).fold(e => Some(s"check threw: $e"), identity))
      val e = Exec(op.name, pass, tr.active, s, r.getOrElse(-1L), failure)
      execs += e
      e
    }

    def pass(p: Int, traced: Boolean): Unit = {
      wl.beforePass()
      tr.active = traced
      val from = tr.spans.size
      val ticks = cpuTicks()
      val done = wl.ops.map(exec(_, p))
      passSteal(p) = stealSince(ticks)
      tr.active = false
      passSeconds(p) = done.map(_.seconds).sum
      passTraced(p) = traced
      passSpans(p) = (from, tr.spans.size)
      passBytes(p) = wl.passBytes()
    }

    // Pass 0 is the cold one (`cold_pass_s`); its first op is
    // `first_op_s`. WarmPasses untimed passes follow, then timed passes
    // until `seconds` is spent and TimedPasses are done. A tracing run
    // times at least four, untraced and traced in ABBA order, so drift
    // cancels out of the overhead.
    val (cg0, cgMs0) = codegen()
    wl.beforePass()
    val ticks = cpuTicks()
    val first = exec(wl.ops.head, 0)
    val (cg1, cgMs1) = codegen()
    val coldPass = first.seconds + wl.ops.tail.map(exec(_, 0).seconds).sum
    passSteal(0) = stealSince(ticks)
    (1 to WarmPasses).foreach(pass(_, traced = false))
    val firstTimed = WarmPasses + 1
    val t0 = System.nanoTime()
    var p = firstTimed
    def timed = p - firstTimed
    def elapsed = (System.nanoTime() - t0) / 1e9
    def untraced = (firstTimed until p).filterNot(passTraced)
    def clean = untraced.filter(passSteal(_) <= MaxSteal)
    while (elapsed < seconds || timed < (if (trace) 4 else TimedPasses) ||
        (clean.size < TimedPasses && elapsed < MaxOverrun * seconds)) {
      pass(p, traced = trace && (timed % 4 == 1 || timed % 4 == 2))
      p += 1
    }
    // the clean passes, or the TimedPasses least stolen when too few were clean
    val measured = if (clean.size >= TimedPasses) clean else untraced.sortBy(passSteal).take(TimedPasses).sorted
    val measuredSet = measured.toSet

    // Output checks, outside every timed region.
    val (afterFailures, checkSeconds) = time(wl.afterRun())
    val probes = if (trace) wl.probes() else Nil
    val badOps = afterFailures.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).mkString("; ") }
    val failedExecs = execs.filter(e => e.failure.isDefined || badOps.contains(e.op))

    // op_tail_s: the highest percentile with >= 10 of the samples that
    // TimedPasses passes give beyond it, fixed per workload so runs of
    // different lengths report the same percentile.
    val warm = execs.filter(e => measuredSet(e.pass)).map(_.seconds).sorted.toSeq
    val tailQ = math.min(0.95, math.max(0.5, 1 - 10.0 / (TimedPasses * wl.ops.size)))
    val tail = quantile(warm, tailQ)

    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "cold_pass_s" -> (coldPass, "s"),
      "pass_s" -> (median(measured.map(passSeconds)), "s"),
      "op_p50_s" -> (median(warm), "s"),
      "op_tail_s" -> (tail, "s"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))

    val perLayer = if (trace) layers(tr, passSpans, passTraced, passSeconds, passBytes, measured, execs.toSeq,
      (cgMs1 - cgMs0) / 1e3, probes, failedExecs.size) + ("first_op_s" -> (first.seconds, "s"))
      else Map.empty[String, (Double, String)]

    if (trace) {
      val w = Files.newBufferedWriter(Paths.get(s"$work/spans.jsonl"))
      try tr.toJsonLines.foreach { l => w.write(l); w.newLine() } finally w.close()
    }

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "session_ready_ms" -> sessionReady, "setup_ready_ms" -> setupReady,
      "first_op" -> first.op, "codegen_first_op" -> Map("compiles" -> (cg1 - cg0), "ms" -> (cgMs1 - cgMs0)),
      "first_op_s" -> first.seconds, "cold_pass_s" -> coldPass,
      "cold_pass_steal" -> passSteal(0),
      "passes" -> (1 until p).map(i => Map("pass" -> i, "timed" -> (i >= firstTimed), "traced" -> passTraced(i),
        "seconds" -> passSeconds(i), "steal" -> passSteal(i), "measured" -> measuredSet(i))),
      "op_tail" -> Map("percentile" -> tailQ, "samples" -> warm.size,
        "beyond" -> warm.count(_ > tail)),
      "check_s" -> checkSeconds,
      "attempted" -> execs.size, "failed" -> failedExecs.size,
      "failures" -> failedExecs.take(20).map(e => Map("op" -> e.op, "pass" -> e.pass,
        "why" -> e.failure.getOrElse(badOps(e.op)))),
      "probes" -> probes.map { case (n, f) => Map("probe" -> n, "ok" -> f.isEmpty, "error" -> f) },
      "results" -> execs.groupBy(_.op).map { case (k, v) => k -> v.map(_.result).distinct },
      "executions" -> execs.groupBy(_.op).map { case (k, v) => k -> v.size },
      "op_seconds" -> execs.groupBy(_.op).map { case (k, v) => k -> v.map(_.seconds) },
      "oracle" -> wl.oracle,
      "metrics" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> perLayer.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    Files.writeString(Paths.get(s"$work/run.json"), Json(report))
  }

  /** Per-layer figures from the traced passes, each a mean per pass. */
  private def layers(tr: Tracer, passSpans: collection.Map[Int, (Int, Int)],
      passTraced: collection.Map[Int, Boolean], passSeconds: collection.Map[Int, Double],
      passBytes: collection.Map[Int, Map[String, Long]], untraced: Seq[Int],
      execs: Seq[Exec], codegenS: Double,
      probes: Seq[(String, Option[String])], failedOps: Int): Map[String, (Double, String)] = {
    val traced = passTraced.filter(_._2).keys.toSeq.sorted
    val n = traced.size.toDouble
    val ss = traced.flatMap { p => val (a, b) = passSpans(p); tr.spans.slice(a, b) }
    val self = tr.selfSeconds(ss)
    def secs(pred: Span => Boolean) = ss.filter(pred).map(_.seconds).sum / n
    def sum(key: String, pred: Span => Boolean = _ => true) =
      ss.filter(pred).map(_.m.getOrElse(key, 0.0)).sum / n
    def named(name: String): Span => Boolean = _.name == name
    def inLayer(l: String): Span => Boolean = _.layer == l
    val bytes = traced.map(passBytes)
    def passByte(k: String) = bytes.map(_.getOrElse(k, 0L)).sum / n
    val byOp = ss.groupBy(_.op)
    // pair yield: result rows / candidate-join rows, over ops whose plan had a join
    val pairs = byOp.values.flatMap { spans =>
      val root = spans.find(_.parent == -1)
      val join = spans.filter(_.layer == "operators").map(_.m.getOrElse("join_rows", 0.0)).maxOption.getOrElse(0.0)
      root.filter(_ => join > 0).map(r => (r.m.getOrElse("rows", 0.0), join))
    }
    val fmts = Seq("geojson", "gpkg", "fgb", "geoparquet", "shp")
    val probeFailed = probes.count(_._2.isDefined)
    val attempted = execs.size + probes.size
    Map(
      "config.catalog_s" -> (secs(named("config.catalog")), "s"),
      "sources.build_s" -> (secs(named("sources.pipeline")), "s"),
      "sources.input_rows" -> (sum("input_rows"), "rows"),
      "sources.input_bytes" -> (sum("scan_bytes"), "bytes"),
      "sources.readback_s" -> (secs(named("sources.readback")), "s"),
      "sources.readback_rows" -> (ss.filter(named("sources.readback")).flatMap(s => byOp(s.op).find(_.parent == -1))
        .map(_.m.getOrElse("rows", 0.0)).sum / n, "rows"),
      "queries.build_s" -> (secs(named("queries.build")), "s"),
      "queries.analysis_s" -> (sum("phase.analysis"), "s"),
      "spark.optimize_s" -> (sum("phase.optimization"), "s"),
      "spark.physical_s" -> (sum("phase.planning"), "s"),
      "spark.codegen_s" -> (codegenS, "s"),
      "spark.jobs" -> (sum("jobs"), "count"),
      "spark.stages" -> (sum("stages"), "count"),
      "spark.tasks" -> (sum("tasks"), "count"),
      "spark.exec_s" -> (sum("exec_s"), "s"),
      "spark.task_s" -> (sum("task_s"), "s"),
      "spark.gc_s" -> (sum("gc_s"), "s"),
      "spark.shuffle_bytes" -> (sum("shuffle_bytes"), "bytes"),
      "operators.build_s" -> (secs(named("operators.build")), "s"),
      "operators.exec_s" -> (secs(named("operators.exec")), "s"),
      "operators.task_s" -> (sum("task_s", inLayer("operators")), "s"),
      "operators.shuffle_bytes" -> (sum("shuffle_bytes", inLayer("operators")), "bytes"),
      "operators.spill_bytes" -> (sum("spill_bytes", inLayer("operators")), "bytes"),
      "operators.pair_yield" -> (if (pairs.isEmpty) 0.0 else pairs.map(_._1).sum / pairs.map(_._2).sum, "ratio"),
      "export.publish_s" -> (secs(named("export.publish")), "s"),
      "export.upsert_s" -> (secs(named("export.upsert")), "s"),
      "export.upsert_read_bytes" -> (sum("scan_bytes", named("export.upsert")), "bytes"),
      "export.layer_bytes" -> (passByte("layer"), "bytes"),
      "out_bytes" -> (bytes.map(_.values.sum).sum / n, "bytes"),
      "failed_share" -> (if (attempted == 0) 0.0 else (failedOps + probeFailed).toDouble / attempted, "ratio"),
      "export.probe_failed" -> (probeFailed.toDouble, "count"),
      "trace.overhead_s" -> (median(traced.map(passSeconds)) - median(untraced.map(passSeconds)), "s")
    ) ++ fmts.flatMap(f => Seq(
      s"export.${f}_s" -> (secs(named(s"export.$f")), "s"),
      s"export.${f}_bytes" -> (passByte(f), "bytes"))) ++
      Seq("bench", "config", "sources", "queries", "operators", "export", "spark").map(l =>
        s"$l.self_s" -> (ss.filter(inLayer(l)).map(s => self(s.id)).sum / n, "s"))
  }
}
