package graft.perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Row, SparkSession}

/** Product-path benchmark: one in-process run of one workload.
  *
  *   --workload compare_identical|compare_drift|pipeline_curation
  *   --seed n --seconds s --trace 0|1 --dir work-dir --cores k
  *   --selfcheck   every workload and its checks at a tiny size
  *
  * Untraced, it prints the end-to-end metrics; traced, the per-layer ones.
  * The last line of standard output is the JSON result.
  */
object Bench {

  /** Input sizes: lineitem rows per compare side, planted changes per
    * kind for the drift target, and corpus documents.
    */
  final case class Sizes(rows: Long, driftPerKind: Int, docs: Int)
  val Full = Sizes(rows = 100000L, driftPerKind = 12, docs = 100)
  val Tiny = Sizes(rows = 20000L, driftPerKind = 4, docs = 60)

  val Workloads = Seq("compare_identical", "compare_drift", "pipeline_curation")

  def workload(name: String, env: Env, sz: Sizes): Workload = name match {
    case "compare_identical" => new CompareWorkload(env, sz.rows, None)
    case "compare_drift"     => new CompareWorkload(env, sz.rows, Some(sz.driftPerKind))
    case "pipeline_curation" => new PipelineWorkload(env, sz.docs)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def unit(metric: String): String =
    if (metric.endsWith("_s")) "s"
    else if (metric.endsWith("_mb")) "MB"
    else if (Seq("parallelism", "useful_ratio", "source_scans").exists(metric.endsWith)) "ratio"
    else "count"

  private def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double)]): String =
    metrics.map { case (k, v) => s""""$k": {"value": $v, "unit": "${unit(k)}"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")

  /** Names of every per-layer metric, in print order. */
  val LayerMetrics: Seq[String] = Seq(
    "setup.session_s", "setup.generate_s", "setup.warm_s", "op.task_cpu_s",
    "sources.resolve_s", "sources.scan_s", "canon.hash_s",
    "diff.plan_s", "diff.plan_jobs",
    "diff.fingerprint_s", "diff.fingerprint.tasks", "diff.fingerprint.task_cpu_s",
    "diff.fingerprint.gc_s", "diff.fingerprint.spill_mb", "diff.fingerprint.input_mb",
    "diff.fingerprint.shuffle_mb", "diff.fingerprint.parallelism", "diff.agg_s",
    "diff.fetch_s", "diff.fetch.task_cpu_s", "diff.fetch.gc_s", "diff.fetch.input_mb",
    "diff.fetch.shuffle_mb", "diff.fetch.spill_mb", "diff.fetch.useful_ratio",
    "diff.orphans_s", "diff.repair_s", "sinks.repair_write_s", "diff.buckets_nok") ++
    PipelineWorkload.Steps.flatMap(s =>
      Seq("self_s", "task_cpu_s", "shuffle_mb", "rows_out", "gc_s", "spill_mb")
        .map(m => s"pipeline.$s.$m")) ++
    Seq("pipeline.source_scans", "sinks.write_s", "storage.retained_rdds",
      "trace.op_s", "trace.overhead_s")

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, dir: String = "", cores: Int = 4, selfcheck: Boolean = false)

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case Nil => a
    case "--workload" :: v :: t => parse(t, a.copy(workload = v))
    case "--seed" :: v :: t     => parse(t, a.copy(seed = v.toLong))
    case "--seconds" :: v :: t  => parse(t, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: t    => parse(t, a.copy(trace = v == "1"))
    case "--dir" :: v :: t      => parse(t, a.copy(dir = v))
    case "--cores" :: v :: t    => parse(t, a.copy(cores = v.toInt))
    case "--selfcheck" :: t     => parse(t, a.copy(selfcheck = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = parse(argv.toList)
    require(a.dir.nonEmpty, "--dir is required")
    val spark = GraftSession.build(s"local[${a.cores}]")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val ok =
      try {
        if (a.selfcheck) selfcheck(spark, a)
        else run(spark, a, jvmStart, sessionS)
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  private def newEnv(spark: SparkSession, a: Args, sub: String, trace: Boolean,
      ledger: Ledger): Env = {
    val dir = Paths.get(a.dir, sub).toAbsolutePath
    Files.createDirectories(dir)
    Env(spark, dir.toString, a.seed, a.cores, ledger, new Tracer(spark.sparkContext, trace))
  }

  /** One measured run; prints the result line. Returns false if it could
    * not measure (an exception); a failed check still prints a result.
    */
  def run(spark: SparkSession, a: Args, jvmStart: Long, sessionS: Double): Boolean = {
    val ledger = new Ledger(spark.sparkContext)
    val env = newEnv(spark, a, a.workload, a.trace, ledger)
    val w = workload(a.workload, env, Full)
    val t0 = Workload.nanos()
    w.generate()
    val generateS = Workload.secs(t0, Workload.nanos())

    var attempted = 0
    var failed = 0
    var retained = 0
    def attempt(): Option[OpOutcome] = {
      attempted += 1
      val peak0 = ledger.resetPeak()
      val before = ledger.snapshot()
      val firstSpan = env.tracer.nextSpanId
      val out =
        try Some(w.op())
        catch { case e: Exception =>
          System.err.println(s"[perfbench] operation threw: $e"); None }
      out.flatMap(_.error).foreach(e => System.err.println(s"[perfbench] check failed: $e"))
      if (out.forall(_.error.nonEmpty)) failed += 1
      retained = math.max(retained, env.tracer("cleanup")(env.dropCaches()))
      out.map { o =>
        def ofOp(group: String) = group != "check" && group != "cleanup"
        val c = Ledger.delta(before, ledger.snapshot())
          .filter { case (g, _) => ofOp(g) }.values.foldLeft(Cost())(_ + _)
        val readMb = env.tracer.spans
          .filter(s => s.id >= firstSpan && s.parent == 0 && ofOp(s.name)).map(_.readMb).sum
        val e2e = Map(
          "task_cpu_s" -> c.cpuS, "input_mb" -> readMb, "shuffle_mb" -> c.shuffleMb,
          "storage_peak_mb" -> math.max(0L, ledger.peak() - peak0) / 1e6)
        System.err.println(f"[perfbench] operation $attempted: op_s=${o.opS}%.3f " +
          f"verdict_s=${o.verdictS}%.3f task_cpu_s=${c.cpuS}%.3f gc_s=${c.gcS}%.3f " +
          f"jobs=${c.jobs} tasks=${c.tasks}")
        o.copy(layers = o.layers ++ e2e)
      }
    }

    val tw = Workload.nanos()
    (1 to w.warmOps).foreach(_ => attempt())
    val warmS = Workload.secs(tw, Workload.nanos())
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    // a traced run measures for twice as long, in whole pairs of
    // operations in the order traced, untraced, untraced, traced, ...,
    // one pair at least; the difference of the two sides' medians is the
    // tracing overhead. With an even number of pairs neither side runs
    // first more often; with one pair the traced side runs first, closer
    // to the warm-up, so the overhead errs high rather than hiding a cost.
    val ops = scala.collection.mutable.ArrayBuffer[(Boolean, OpOutcome)]()
    val seconds = if (a.trace) 2 * a.seconds else a.seconds
    val start = Workload.nanos()
    var i = 0
    while (Workload.secs(start, Workload.nanos()) < seconds || (a.trace && (i < 2 || i % 2 != 0))) {
      val traced = a.trace && (i % 4 == 0 || i % 4 == 3)
      env.tracer.enabled = traced
      attempt().filter(_.error.isEmpty).foreach(o => ops += ((traced, o)))
      i += 1
    }
    env.tracer.enabled = a.trace
    val good = ops.collect { case (t, o) if t == a.trace => o }.toSeq
    val untraced = ops.collect { case (false, o) => o.opS }.toSeq
    def med(k: String): Double = median(good.flatMap(_.layers.get(k)))

    val metrics =
      if (!a.trace) Seq(
        "setup_s" -> setupS,
        "op_s" -> median(good.map(_.opS)),
        "verdict_s" -> median(good.map(_.verdictS)),
        "input_mb" -> med("input_mb"),
        "shuffle_mb" -> med("shuffle_mb"),
        "storage_peak_mb" -> med("storage_peak_mb"))
      else {
        val probes = env.tracer("probes")(w.probes())
        val layer = good.flatMap(_.layers.keys).distinct.map(k => k -> med(k)).toMap ++
          probes ++ Map(
            "setup.session_s" -> sessionS, "setup.generate_s" -> generateS,
            "setup.warm_s" -> warmS, "storage.retained_rdds" -> retained.toDouble,
            "op.task_cpu_s" -> med("task_cpu_s"),
            "trace.op_s" -> median(good.map(_.opS)),
            "trace.overhead_s" -> (median(good.map(_.opS)) - median(untraced)))
        LayerMetrics.map(k => k -> layer.getOrElse(k, 0.0))
      }
    val traceDir = Paths.get(a.dir, "traces")
    Files.createDirectories(traceDir)
    Files.writeString(traceDir.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      env.tracer.json)
    val correct = good.nonEmpty && failed == 0
    println(json(correct, attempted, failed, metrics))
    true
  }

  /** Every workload and its checks at the tiny size, one traced operation
    * and the isolation probes each, plus the generator's expected drift
    * against a brute-force bag difference of the two sides collected to
    * the driver.
    */
  def selfcheck(spark: SparkSession, a: Args): Boolean = {
    val ledger = new Ledger(spark.sparkContext)
    val results = Workloads.map { name =>
      val env = newEnv(spark, a, s"selfcheck-$name", trace = true, ledger)
      val w = workload(name, env, Tiny)
      w.generate()
      val msg =
        try {
          val err = w.op().error
          env.dropCaches()
          val probes = w.probes()
          err.orElse(probes.collectFirst { case (k, v) if v.isNaN => s"probe $k is NaN" })
        } catch { case e: Exception => Some(s"threw $e") }
      System.err.println(s"[selfcheck] $name: ${msg.getOrElse("ok")}")
      msg.isEmpty
    }
    val brute = bruteForceDrift(spark, a)
    System.err.println("[selfcheck] generator drift vs brute-force bag difference: " +
      (if (brute) "ok" else "MISMATCH"))
    val ok = results.forall(identity) && brute
    println(s"""{"selfcheck": "${if (ok) "ok" else "failed"}"}""")
    ok
  }

  private def bruteForceDrift(spark: SparkSession, a: Args): Boolean = {
    val dir = Paths.get(a.dir, "selfcheck-brute").toAbsolutePath.toString
    val pair = Gen.lineitemPair(spark, dir, Tiny.rows, a.seed,
      Some(Gen.drift(Tiny.rows, a.seed, Tiny.driftPerKind)))
    def bag(rows: Seq[Row]): Map[String, Int] =
      rows.groupBy(_.toSeq.mkString("\u0001")).map { case (k, v) => k -> v.size }
    val src = bag(spark.read.parquet(pair.srcPath).collect().toSeq)
    val tgt = bag(spark.read.parquet(pair.tgtPath).collect().toSeq)
    def minus(x: Map[String, Int], y: Map[String, Int]): Map[String, Int] =
      x.map { case (k, n) => k -> (n - y.getOrElse(k, 0)) }.filter(_._2 > 0)
    minus(src, tgt) == bag(pair.expectSrcOnly) && minus(tgt, src) == bag(pair.expectTgtOnly) &&
      src.values.sum == pair.srcRows && tgt.values.sum == pair.tgtRows
  }
}
