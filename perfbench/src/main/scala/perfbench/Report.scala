package perfbench

import scala.collection.mutable

/** Turns recorded spans and Spark counters into per-span rows and the
  * per-layer metrics. Counts and times are per traced pass.
  */
object Report {

  /** One finished span with its self time, its inclusive Spark counters,
    * the part of it when no stage ran, and the SQL planning that began in
    * it (innermost span only).
    */
  final case class SpanStat(span: Span, selfUs: Long, gapUs: Long, planningUs: Long, c: Counters)

  def stats(tracer: Tracer, rec: SparkRecorder): Seq[SpanStat] = {
    val spans = tracer.spans.filter(_.endUs >= 0).toSeq
    val children = spans.groupBy(_.parent)
    val stages = rec.stageIntervals.toSeq
    val planning = mutable.Map.empty[Int, Long]
    rec.sql.foreach { e =>
      spans.filter(s => s.startUs <= e.startUs && e.startUs < s.endUs).maxByOption(_.startUs)
        .foreach(s => planning(s.id) = planning.getOrElse(s.id, 0L) + e.planningUs)
    }
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    spans.map { s =>
      val inside = subtree(s)
      val c = new Counters
      inside.flatMap(d => rec.bySpan.get(d.id)).foreach { x =>
        c.jobs += x.jobs; c.stages += x.stages; c.tasks += x.tasks; c.runMs += x.runMs
        c.cpuNs += x.cpuNs; c.shuffleRead += x.shuffleRead; c.shuffleWrite += x.shuffleWrite
        c.spill += x.spill
      }
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startUs, k.endUs))
      SpanStat(s, Stats.selfTime(s.startUs, s.endUs, kids),
        s.durUs - Stats.covered(s.startUs, s.endUs, stages),
        inside.map(d => planning.getOrElse(d.id, 0L)).sum, c)
    }
  }

  private def fields(st: SpanStat): Seq[(String, Double)] = Seq(
    "self_s" -> st.selfUs / 1e6, "jobs" -> st.c.jobs.toDouble, "stages" -> st.c.stages.toDouble,
    "tasks" -> st.c.tasks.toDouble, "executor_run_s" -> st.c.runMs / 1e3,
    "executor_cpu_s" -> st.c.cpuNs / 1e9, "shuffle_read_bytes" -> st.c.shuffleRead.toDouble,
    "shuffle_write_bytes" -> st.c.shuffleWrite.toDouble, "spill_bytes" -> st.c.spill.toDouble,
    "driver_gap_s" -> st.gapUs / 1e6, "planning_s" -> st.planningUs / 1e6)

  /** The span JSON: name, start, end, parent and trace id plus its stats. */
  def spanRows(tracer: Tracer, rec: SparkRecorder): Seq[Map[String, Any]] =
    stats(tracer, rec).map { st =>
      Map[String, Any]("id" -> st.span.id, "parent" -> st.span.parent, "name" -> st.span.name,
        "trace" -> st.span.trace, "start_us" -> st.span.startUs, "end_us" -> st.span.endUs,
        "dur_s" -> st.span.durUs / 1e6) ++ fields(st)
    }

  def perLayer(tracer: Tracer, rec: SparkRecorder, layer: Map[String, Double], passes: Int,
      gcSecs: Double, untracedPassS: Option[Double], passS: Double): Map[String, Double] = {
    val n = passes.toDouble
    val st = stats(tracer, rec)
    val out = mutable.Map.empty[String, Double]
    // every span family: its fields summed over the run, per pass
    st.groupBy(_.span.name).foreach { case (name, xs) =>
      xs.map(fields).transpose.foreach { col =>
        out(s"$name.${col.head._1}") = col.map(_._2).sum / n
      }
    }
    def get(k: String): Double = out.getOrElse(k, 0.0)
    def lay(k: String): Double = layer.getOrElse(k, 0.0)

    out("aram.modelstore.save_s") = get("aram.modelstore.save.self_s")
    out("aram.modelstore.load_s") = get("aram.modelstore.load.self_s")
    layer.get("aram.rank_within1_acc").foreach(out("aram.rank_within1_acc") = _)

    for (k <- Seq("stage1", "stage2"); f <- Seq("trigger_s", "add_batch_s", "planning_s", "wal_commit_s"))
      out(s"streaming.$k.$f") = lay(s"streaming.$k.$f") / n
    val rowsIn = lay("streaming.dedup.rows_in")
    if (rowsIn > 0) out("streaming.dedup.admit_ratio") = lay("streaming.dedup.rows_out") / rowsIn
    out("streaming.state.rows") = lay("streaming.state.stage1.rows") + lay("streaming.state.stage2.rows")
    out("streaming.state.mem_bytes") =
      lay("streaming.state.stage1.mem_bytes") + lay("streaming.state.stage2.mem_bytes")
    out("streaming.upsert.write_s") =
      rec.sql.filter(_.outputPath.exists(_.contains("/sink/delta_"))).map(_.durUs).sum / 1e6 / n
    out("streaming.upsert.compact_s") = get("streaming.upsert.compact.self_s")
    out("streaming.upsert.read_s") = get("streaming.upsert.read.self_s")
    val written = lay("streaming.upsert.bytes_written")
    val compacted = lay("streaming.upsert.compacted_bytes")
    out("streaming.upsert.bytes_written") = written / n
    if (compacted > 0) out("streaming.upsert.write_amp") = (written + compacted) / compacted

    val all = rec.bySpan.values
    out("spark.planning_s") = rec.sql.map(_.planningUs).sum / 1e6 / n
    out("spark.jobs") = all.map(_.jobs).sum / n
    out("spark.stages") = all.map(_.stages).sum / n
    out("spark.tasks") = all.map(_.tasks).sum / n
    out("spark.executor_run_s") = all.map(_.runMs).sum / 1e3 / n
    out("spark.executor_cpu_s") = all.map(_.cpuNs).sum / 1e9 / n
    out("spark.shuffle_read_bytes") = all.map(_.shuffleRead).sum / n
    out("spark.shuffle_write_bytes") = all.map(_.shuffleWrite).sum / n
    out("spark.spill_bytes") = all.map(_.spill).sum / n
    out("spark.gc_s") = gcSecs / n
    val roots = st.filter(_.span.name == "pass")
    out("spark.driver_gap_s") = roots.map(_.gapUs).sum / 1e6 / n
    out("trace.unattributed_share") = Stats.median(roots.map(r => r.selfUs.toDouble / r.span.durUs))
    out("trace.pass_s") = passS
    untracedPassS.foreach(u => out("trace.overhead_s") = passS - u)
    out("trace.spans") = st.size / n
    out.toMap
  }
}
