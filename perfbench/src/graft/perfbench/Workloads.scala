package graft.perfbench

import graft.{Main, Pipeline}
import graft.config.{ConfigLoader, PipelineLoader}
import graft.diff.{Comparator, DiffReport}
import graft.sources.{Sinks, Sources}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** One timed operation. `opS` excludes the output check, which runs in
  * the middle of the operation while the report's caches are still held.
  * `layers` are the per-layer numbers the operation's spans give.
  */
final case class OpOutcome(opS: Double, verdictS: Double, error: Option[String],
    layers: Map[String, Double])

/** A workload: inputs made once per run, then one operation repeated. */
trait Workload {
  def generate(): Unit
  /** Untimed operations before the timed ones, part of the set-up. */
  def warmOps: Int
  def op(): OpOutcome
  /** Isolation probes of single layers, run once in a traced run. */
  def probes(): Map[String, Double]
}

object Workload {
  def nanos(): Long = System.nanoTime()
  def secs(from: Long, to: Long): Double = (to - from) / 1e9

  def writeFile(path: String, text: String): Unit =
    Files.writeString(Paths.get(path), text)

  /** Full materialization without a sink: every column of every row. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def error(checks: Seq[(Boolean, String)]): Option[String] =
    checks.collectFirst { case (false, what) => what }
}

/** Shared by all workloads: the session, the ledger, the tracer. */
final case class Env(spark: SparkSession, dir: String, seed: Long, cores: Int,
    ledger: Ledger, tracer: Tracer) {
  /** Cost per job group since the `before` snapshot. */
  def costs(before: Map[String, Cost]): Map[String, Cost] =
    Ledger.delta(before, ledger.snapshot())

  /** Times `body` as its own job group; returns (seconds, jobs, result). */
  def probe[T](name: String)(body: => T): (Double, Long, T) = {
    val before = ledger.snapshot()
    val t0 = Workload.nanos()
    val r = tracer(name)(body)
    val s = Workload.secs(t0, Workload.nanos())
    (s, costs(before).get(name).map(_.jobs).getOrElse(0L), r)
  }

  /** Drops every cached frame and persisted RDD the operation left behind;
    * returns how many persisted RDDs were still held.
    */
  def dropCaches(): Int = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs.size
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }
}

/** The CLI compare: `ConfigLoader` → `Main.run` with a progress callback →
  * verdict → every orphan row collected → `Main.emitRepair` →
  * `DiffReport.release`. `drift` plants the changes of [[Gen.drift]] and
  * sets `num_buckets`, `repair_table` and `repair_out`; without it the
  * target is the source's bag in another layout and buckets are
  * auto-planned.
  */
final class CompareWorkload(env: Env, rows: Long, driftPerKind: Option[Int])
    extends Workload {
  import Workload._
  private val spark = env.spark
  private val tr = env.tracer
  private val cfg = s"${env.dir}/compare.yaml"
  private val repairOut = s"${env.dir}/repair"
  private var pair: LineitemPair = _

  // timed operations must be past the JVM's warm-up, or op_s follows how
  // far each run has warmed: a compare reaches its steady time on the
  // fourth operation of a JVM (drift, 4 cores: about 9, 5.5, 5, then 4.7 s)
  val warmOps = 3

  def generate(): Unit = {
    val drift = driftPerKind.map(Gen.drift(rows, env.seed, _))
    pair = Gen.lineitemPair(spark, env.dir, rows, env.seed, drift)
    val extra =
      if (drift.isEmpty) ""
      else s"num_buckets: 4096\nrepair_table: lineitem\nrepair_out: $repairOut\n"
    writeFile(cfg,
      s"""source:
         |  name: source
         |  db: {type: parquet, path: "${pair.srcPath}"}
         |target:
         |  name: target
         |  db: {type: parquet, path: "${pair.tgtPath}"}
         |""".stripMargin + extra)
  }

  def op(): OpOutcome = {
    val before = env.ledger.snapshot()
    val firstSpan = tr.nextSpanId
    var rep: DiffReport = null
    var orphans: Array[Row] = Array.empty
    val t0 = nanos()
    var tVerdict = t0
    tr("op") {
      val spec = tr("config.load")(ConfigLoader.load(cfg))
      rep = tr("main.run") {
        tr.begin("diff.resolve_plan")
        Main.run(spark, spec, progress = msg => msg.takeWhile(_ != ':') match {
          case "plan"        => tr.phase("main.run", "diff.fingerprint")
          case "fingerprint" => tr.phase("main.run", "diff.fetch")
          case "orphans"     => tr.phase("main.run", "diff.report")
          case _             => ()
        })
      }
      tVerdict = nanos()
      orphans = tr("diff.orphans")(rep.orphans.collect())
      tr("diff.repair")(Main.emitRepair(rep, spec, _ => ()))
    }
    val t1 = nanos()
    val err =
      try tr("check")(check(rep, orphans))
      catch { case e: Exception => Some(s"check threw $e") }
    val t2 = nanos()
    tr("op.release")(rep.release())
    val t3 = nanos()
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val c = env.costs(before)
      val span = tr.spans.filter(_.id >= firstSpan).map(s => s.name -> s).toMap
      def secsOf(name: String) = span.get(name).fold(0.0)(_.seconds)
      def readOf(name: String) = span.get(name).fold(0.0)(_.readMb)
      def cost(g: String) = c.getOrElse(g, Cost())
      val fp = cost("diff.fingerprint")
      val fe = cost("diff.fetch")
      val fpS = secsOf("diff.fingerprint")
      Map(
        "diff.fingerprint_s" -> fpS,
        "diff.fingerprint.tasks" -> fp.tasks.toDouble,
        "diff.fingerprint.task_cpu_s" -> fp.cpuS,
        "diff.fingerprint.gc_s" -> fp.gcS,
        "diff.fingerprint.spill_mb" -> fp.spillMb,
        "diff.fingerprint.input_mb" -> readOf("diff.fingerprint"),
        "diff.fingerprint.shuffle_mb" -> fp.shuffleMb,
        "diff.fingerprint.parallelism" ->
          (if (fpS > 0) fp.runS / (fpS * env.cores) else 0.0),
        "diff.fetch_s" -> secsOf("diff.fetch"),
        "diff.fetch.task_cpu_s" -> fe.cpuS,
        "diff.fetch.gc_s" -> fe.gcS,
        "diff.fetch.input_mb" -> readOf("diff.fetch"),
        "diff.fetch.shuffle_mb" -> fe.shuffleMb,
        "diff.fetch.spill_mb" -> fe.spillMb,
        "diff.fetch.useful_ratio" ->
          (if (fe.inputRecords > 0) orphans.length.toDouble / fe.inputRecords else 0.0),
        "diff.orphans_s" -> secsOf("diff.orphans"),
        "diff.repair_s" -> secsOf("diff.repair"),
        "sinks.repair_write_s" -> cost("diff.repair").jobWallS,
        "diff.buckets_nok" -> rep.mismatchedBuckets.toDouble)
    }
    OpOutcome(secs(t0, t1) + secs(t2, t3), secs(t0, tVerdict), err, layers)
  }

  private def key(r: Row): String = r.toSeq.mkString("\u0001")
  private def bag(rows: Seq[Row]): Map[String, Int] =
    rows.groupBy(key).map { case (k, v) => k -> v.size }

  /** The report against the generator: row counts, verdict, and for drift
    * the orphan multiset per side and the repair script.
    */
  private def check(rep: DiffReport, orphans: Array[Row]): Option[String] = {
    val counts = Seq(
      (rep.srcRows == pair.srcRows, s"source rows ${rep.srcRows} != ${pair.srcRows}"),
      (rep.tgtRows == pair.tgtRows, s"target rows ${rep.tgtRows} != ${pair.tgtRows}"))
    pair.drift match {
      case None => error(counts ++ Seq(
        (rep.identical, s"verdict: ${rep.verdict}"),
        (rep.withinTolerance, "identical inputs not within tolerance"),
        (orphans.isEmpty, s"${orphans.length} orphans on identical inputs")))
      case Some(d) =>
        val bySide = orphans.toSeq.groupBy(_.getString(0))
          .map { case (s, rs) => s -> bag(rs.map(r => Row.fromSeq(r.toSeq.tail))) }
        val script = Files.list(Paths.get(repairOut)).iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-"))
          .flatMap(p => Files.readAllLines(p).asScala).toSeq
        val actions = Main.repairScript(rep, ConfigLoader.load(cfg)).get
          .groupBy("action").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val copies = d.dups.map(_._2).sum.toLong
        error(counts ++ Seq(
          (!rep.identical && !rep.circuitBroken && !rep.countsUnknown,
            s"verdict: ${rep.verdict}"),
          (bySide.getOrElse("source", Map.empty) == bag(pair.expectSrcOnly),
            "source-only orphans differ from the planted changes"),
          (bySide.getOrElse("target", Map.empty) == bag(pair.expectTgtOnly),
            "target-only orphans differ from the planted changes"),
          (script.count(_.startsWith("INSERT ")) == pair.expectSrcOnly.size,
            "repair script INSERT count"),
          (script.count(_.startsWith("DELETE ")) == pair.expectTgtOnly.size,
            "repair script DELETE count"),
          (actions.getOrElse("insert", 0L) == pair.expectSrcOnly.size,
            s"insert actions $actions"),
          (actions.getOrElse("delete_all_copies", 0L) == copies,
            s"delete_all_copies actions $actions, expected $copies"),
          (actions.getOrElse("delete", 0L) == d.edited.size + d.inserted.size,
            s"delete actions $actions")))
    }
  }

  def probes(): Map[String, Double] = {
    val spec = ConfigLoader.load(cfg)
    // probes are differences of noop writes, so each is its best of three
    def best(name: String)(body: => Unit): Double =
      (1 to 3).map(_ => env.probe(name)(body)._1).min
    val (resolveS, _, (src, tgt)) = env.probe("probe.resolve")(
      (Sources.resolve(spark, spec.source), Sources.resolve(spark, spec.target)))
    val (planS, planJobs, planned) =
      env.probe("probe.plan")(Comparator.planBuckets(src, tgt, 100000L))
    val buckets = spec.numBuckets.getOrElse(planned)
    def bucketed(df: DataFrame) = Comparator.withBuckets(df, buckets)
    val scanS = best("probe.scan") { noop(src); noop(tgt) }
    val hashS = best("probe.hash") { noop(bucketed(src)); noop(bucketed(tgt)) }
    val aggS = best("probe.agg") {
      noop(Comparator.fingerprints(bucketed(src)))
      noop(Comparator.fingerprints(bucketed(tgt)))
    }
    Map(
      "sources.resolve_s" -> resolveS,
      "sources.scan_s" -> scanS,
      "canon.hash_s" -> (hashS - scanS),
      "diff.plan_s" -> planS,
      "diff.plan_jobs" -> planJobs.toDouble,
      "diff.agg_s" -> (aggS - hashS))
  }
}

/** The CLI pipeline: `PipelineLoader` → `Pipeline.execute` → sink read
  * back, over the generated corpus.
  */
final class PipelineWorkload(env: Env, docs: Int) extends Workload {
  import Workload._
  private val spark = env.spark
  private val tr = env.tracer
  private val cfg = s"${env.dir}/pipeline.yaml"
  private val sink = s"${env.dir}/curated"
  private var corpus: Corpus = _
  private var firstIds: Option[Seq[Long]] = None

  // one warm operation (about 37 s; later ones take 21-27 s): a second
  // would add over 20 s to every run, more than a comparison's time
  // budget leaves
  val warmOps = 1

  def generate(): Unit = {
    corpus = Gen.corpus(spark, env.dir, docs, env.seed)
    writeFile(cfg,
      s"""pipeline:
         |  input:
         |    name: corpus
         |    db: {type: parquet, path: "${corpus.path}"}
         |  steps:
         |    - kind: normalize_text
         |      form: NFC
         |    - kind: filter_stack
         |    - kind: lm_filter
         |      min_ppm: 500
         |    - kind: redact_pii
         |    - kind: dedup_exact
         |    - kind: dedup_near
         |    - kind: source_cap
         |      group_col: source
         |      k: ${math.max(1, docs / 16)}
         |    - kind: split
         |      leakage_safe: true
         |      weights: {train: 0.8, val: 0.1, test: 0.1}
         |  output:
         |    path: "$sink"
         |    format: parquet
         |""".stripMargin)
  }

  def op(): OpOutcome = {
    val before = env.ledger.snapshot()
    val t0 = nanos()
    var tVerdict = t0
    var n = 0L
    tr("op") {
      val spec = tr("config.load")(PipelineLoader.load(cfg))
      val out = tr("pipeline.execute")(Pipeline.execute(spark, spec))
      tVerdict = nanos()
      n = tr("pipeline.readback") {
        spark.read.format("parquet").schema(out.schema).load(sink).count()
      }
    }
    val t1 = nanos()
    val err =
      try tr("check")(check(n))
      catch { case e: Exception => Some(s"check threw $e") }
    val layers = if (!tr.enabled) Map.empty[String, Double] else {
      val exec = env.costs(before).getOrElse("pipeline.execute", Cost())
      Map("pipeline.source_scans" -> exec.inputRecords.toDouble / docs)
    }
    OpOutcome(secs(t0, t1), secs(t0, tVerdict), err, layers)
  }

  /** Properties of the curated output that hold whatever the steps keep. */
  private def check(n: Long): Option[String] = {
    val rows = spark.read.parquet(sink).select("doc_id", "text").collect()
    val ids = rows.map(_.getLong(0)).toSeq
    val texts = rows.map(_.getString(1)).toSeq
    val sorted = ids.sorted
    if (firstIds.isEmpty) firstIds = Some(sorted)
    val form = java.text.Normalizer.Form.NFC
    error(Seq(
      (rows.length.toLong == n, s"read-back count $n != ${rows.length} rows"),
      (rows.nonEmpty && rows.length < docs, s"${rows.length} rows of $docs"),
      (ids.distinct.size == ids.size, "duplicate doc_id in output"),
      (ids.forall(i => i >= 0 && i < docs), "doc_id not in the input"),
      (texts.distinct.size == texts.size, "duplicate text in output"),
      (texts.forall(java.text.Normalizer.isNormalized(_, form)), "text not NFC"),
      (!texts.exists(t => corpus.plantedPii.exists(t.contains)), "planted PII survived"),
      (firstIds.contains(sorted), "doc_id set differs from the run's first operation")))
  }

  def probes(): Map[String, Double] = {
    val spec = PipelineLoader.load(cfg)
    require(spec.steps.size == PipelineWorkload.Steps.size, "step names out of line with the config")
    val lvl = StorageLevel.MEMORY_AND_DISK_SER
    var cur = Sources.resolve(spark, spec.input).persist(lvl)
    cur.count()
    val perStep = spec.steps.zip(PipelineWorkload.Steps).flatMap { case (step, name) =>
      val group = s"pipeline.$name"
      val before = env.ledger.snapshot()
      val t0 = nanos()
      val next = tr(group) {
        val df = Pipeline.applyStep(spark, cur, step).persist(lvl)
        df.count()
        df
      }
      val selfS = secs(t0, nanos())
      val c = env.costs(before).getOrElse(group, Cost())
      val rowsOut = next.count()
      cur.unpersist(blocking = true)
      cur = next
      Seq(s"$group.self_s" -> selfS, s"$group.task_cpu_s" -> c.cpuS,
        s"$group.shuffle_mb" -> c.shuffleMb, s"$group.rows_out" -> rowsOut.toDouble,
        s"$group.gc_s" -> c.gcS, s"$group.spill_mb" -> c.spillMb)
    }
    val (writeS, _, _) = env.probe("probe.sink_write")(
      Sinks.write(cur, s"${env.dir}/probe_sink", Sinks.SinkSpec()))
    env.dropCaches()
    perStep.toMap + ("sinks.write_s" -> writeS)
  }
}

object PipelineWorkload {
  /** The steps of the workload's config, in order. */
  val Steps: Seq[String] = Seq("normalize_text", "filter_stack", "lm_filter",
    "redact_pii", "dedup_exact", "dedup_near", "source_cap", "split")
}
