package perfbench

import graft.GraftSession
import java.lang.management.ManagementFactory
import org.apache.spark.SparkProbe
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Benchmark entry point.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --root DIR --work DIR --out FILE --cores K
  *                  [--commit SHA] [--source-hash SHA] [--untraced-pass-s X]
  *   perfbench.Main --record-digests OUTDIR --root DIR --cores K
  *
  * Prints the result object as the last stdout line and writes the full
  * record (provenance, samples, ops, spans) to `--out`. A traced run
  * reports its overhead against `--untraced-pass-s`, the `pass_s` of the
  * untraced run with the same seed and sources.
  */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s" -> "s", "rows_per_s" -> "rows/s",
    "op_p50_s" -> "s", "peak_rss_mb" -> "MB")

  private val AramFamilies = Seq("aram.features", "aram.labels", "aram.split",
    "aram.pipeline.fit", "aram.pipeline.transform")

  /** Every per-layer metric, printed on every workload (0 where a layer is
    * not on the workload's path).
    */
  val PerLayer: Seq[(String, String)] =
    AramFamilies.flatMap(f => Seq(s"$f.self_s" -> "s", s"$f.jobs" -> "count", s"$f.driver_gap_s" -> "s")) ++
    Seq("aram.modelstore.save_s" -> "s", "aram.modelstore.load_s" -> "s",
      "aram.rank_within1_acc" -> "ratio") ++
    Seq("stage1", "stage2").flatMap(k => Seq(
      s"streaming.$k.trigger_s" -> "s", s"streaming.$k.add_batch_s" -> "s",
      s"streaming.$k.planning_s" -> "s", s"streaming.$k.wal_commit_s" -> "s",
      s"streaming.$k.self_s" -> "s", s"streaming.$k.jobs" -> "count",
      s"streaming.$k.driver_gap_s" -> "s")) ++
    Seq("streaming.dedup.admit_ratio" -> "ratio", "streaming.state.rows" -> "count",
      "streaming.state.mem_bytes" -> "bytes", "streaming.upsert.write_s" -> "s",
      "streaming.upsert.compact_s" -> "s", "streaming.upsert.read_s" -> "s",
      "streaming.upsert.bytes_written" -> "bytes", "streaming.upsert.write_amp" -> "ratio") ++
    EngineQueries.Queries.keys.toSeq.sorted.flatMap(q => Seq(
      s"queries.$q.self_s" -> "s", s"queries.$q.jobs" -> "count",
      s"queries.$q.driver_gap_s" -> "s", s"queries.$q.shuffle_read_bytes" -> "bytes",
      s"queries.$q.shuffle_write_bytes" -> "bytes")) ++
    Seq("spark.planning_s" -> "s", "spark.jobs" -> "count", "spark.stages" -> "count",
      "spark.tasks" -> "count", "spark.driver_gap_s" -> "s", "spark.gc_s" -> "s",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
      "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
      "spark.spill_bytes" -> "bytes",
      "trace.unattributed_share" -> "ratio", "trace.pass_s" -> "s", "trace.overhead_s" -> "s",
      "trace.spans" -> "count")

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String): Option[String] = kv.get(k)
  }

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    Opts(args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v
    }.toMap)
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        if (o.get("record-digests").isDefined) recordDigests(o) else run(o)
        0
      } catch {
        case NonFatal(e) =>
          System.err.println("[perfbench] run aborted")
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }

  def session(cores: Int): SparkSession = {
    val spark = GraftSession.builder("perfbench", s"local[$cores]").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Confs that vary from run to run and so stay out of the fingerprint. */
  private val VolatileConfs = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
    "spark.driver.host", "spark.driver.port", "spark.executor.id", "spark.sql.warehouse.dir")

  def confFingerprint(spark: SparkSession): (String, Seq[String]) = {
    val kv = spark.conf.getAll.toSeq.filterNot(e => VolatileConfs(e._1)).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    kv.foreach { case (k, v) => md.update(s"$k=$v\n".getBytes("UTF-8")) }
    (md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString, kv.map(_._1))
  }

  def run(o: Opts): Unit = {
    val w = Workload.byName(o("workload"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val root = o("root")
    val work = o("work")
    val cores = o("cores").toInt

    val setupSecs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (1 to SetupReps).foreach { _ =>
      val t0 = System.nanoTime()
      if (spark != null) stop(spark)
      spark = session(cores)
      val c = new Ctx(spark, seed, work, root, new Tracer(spark))
      w.setup(c)
      w.warm(c)
      setupSecs += secsSince(t0)
    }

    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, seed, work, root, tracer)

    def runPass(index: Int): Pass = {
      val p = new Pass(index, tracer)
      tracer.newTrace()
      val t0 = System.nanoTime()
      tracer.span("pass") {
        try w.pass(ctx, p)
        catch { case NonFatal(e) => p.ops += OpResult("pass", unit = false, secsSince(t0), Some(e.toString)) }
      }
      p.wallSecs = secsSince(t0)
      Disk.delete(s"$work/pass_$index")
      p
    }

    val rec = new SparkRecorder
    if (trace) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(rec)
      tracer.enabled = true
    }
    val gc0 = gcMs()
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do passes += runPass(passes.size) while (System.nanoTime() < deadline)
    val gcSecs = (gcMs() - gc0) / 1e3
    if (trace) SparkProbe.drain(spark.sparkContext)

    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    val walls = passes.map(_.wallSecs).toSeq
    val unitOps = passes.flatMap(_.ops).filter(o => o.unit && o.error.isEmpty).map(_.secs).toSeq
    val passS = Stats.median(walls)
    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> Stats.median(setupSecs.toSeq),
        "pass_s" -> passS,
        "rows_per_s" -> Stats.median(passes.map(p => p.rows / p.wallSecs).toSeq),
        "op_p50_s" -> (if (unitOps.isEmpty) passS else Stats.median(unitOps)),
        "peak_rss_mb" -> peakRssMb())
      else {
        val layer = Report.perLayer(tracer, rec, ctx.layer.toMap, passes.size, gcSecs,
          o.get("untraced-pass-s").map(_.toDouble), passS)
        PerLayer.map { case (k, _) => k -> layer.getOrElse(k, 0.0) }
      }
    val units = (if (trace) PerLayer else EndToEnd).toMap

    val (fp, confKeys) = confFingerprint(spark)
    val fixture = w match {
      case e: EngineQueries =>
        val f = e.fixture(ctx)
        Map("path" -> EngineQueries.Fixture, "mtime_ms" -> Disk.mtime(f), "sha256" -> Disk.sha256(f))
      case _ => Map.empty[String, Any]
    }
    val provenance = Map(
      "git_commit" -> o.get("commit").getOrElse("unknown"),
      "source_sha256" -> o.get("source-hash").getOrElse("unknown"),
      "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "sizes" -> w.sizes, "row_unit" -> w.rowUnit, "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master, "timed_action" -> w.timedAction,
      "fixture" -> fixture, "conf_fingerprint" -> fp, "conf_keys" -> confKeys,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"))
    val samples = Map(
      "setup_s" -> setupSecs, "pass_s" -> walls, "passes" -> passes.size,
      "unit_ops" -> unitOps.size,
      "op_p90_s" -> (if (Stats.supports(unitOps.size, 90)) Some(Stats.percentile(unitOps, 90)) else None),
      "untraced_pass_s" -> o.get("untraced-pass-s"))
    val failures = passes.flatMap(_.ops.flatMap(_.error))
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) => k -> Map("value" -> v, "unit" -> units(k)) }.toMap)
    val record = Map("provenance" -> provenance, "result" -> result, "samples" -> samples,
      "failures" -> failures, "layer" -> ctx.layer,
      "ops" -> passes.flatMap(p => p.ops.map(op => Map("pass" -> p.index, "name" -> op.name,
        "unit" -> op.unit, "secs" -> op.secs, "error" -> op.error))),
      "spans" -> (if (trace) Report.spanRows(tracer, rec) else Nil))
    val out = new java.io.File(o("out"))
    out.getParentFile.mkdirs()
    java.nio.file.Files.write(out.toPath, Json(record).getBytes("UTF-8"))
    stop(spark)
    println(Json(Map("correct" -> result("correct"), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> result("metrics"))))
  }

  /** Run every engine query once over the fixture, write its output as
    * parquet with the digest observed on the same pass, note the plan shape
    * of that write, and dump the oracle SQL, for `record_digests.py` to
    * check against DuckDB.
    */
  def recordDigests(o: Opts): Unit = {
    val out = o("record-digests")
    val root = o("root")
    val spark = session(o("cores").toInt)
    val fixture = s"$root/${EngineQueries.Fixture}"
    val names = EngineQueries.Queries.keys.toSeq.sorted
    val lines = names.map { q =>
      val df = graft.SparkEntry.queries(q)(spark, fixture)
      val (d, plan) = Digest.observed(df, _.write.mode("overwrite").parquet(s"$out/$q"))
      Digest.line(q, d, Digest.shape(plan))
    }
    java.nio.file.Files.write(new java.io.File(s"$out/digests.tsv").toPath,
      (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(s"$out/oracle_sql.json").toPath,
      Json(names.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap).getBytes("UTF-8"))
    stop(spark)
  }
}
