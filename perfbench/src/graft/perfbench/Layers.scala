package graft.perfbench

/** Per-layer metrics of a traced run.
  *
  * Engine, `queries.*` and `streaming.*` metrics are averaged per timed
  * operation, from the Spark listeners over every job an op caused.
  * Module metrics come from the `curate` attribution pass (`Staged`),
  * which runs once after the timed loop: the benchmark's spans around
  * each call into a module (`wall_s`, and `self_s`: the span minus its
  * child spans and the Spark jobs it ran, i.e. the module's driver-side
  * time). Module metrics read 0 on workloads without that pass.
  */
object Layers {
  val Modules: Seq[String] = Seq("core.tables", "io.read", "io.sink", "functions.quality",
    "dedup.exact", "dedup.near", "dedup.cc", "scorers", "clustering", "selection")

  def summarize(t: Tracer, setupSpans: Int, opName: String, batches0: Int): String = {
    val ops = t.spans.drop(setupSpans).filter(s => s.name == opName && s.parent == 0).toSeq
    val n = math.max(ops.size, 1).toDouble
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val jobs = ops.flatMap(t.jobsUnder)
    def jobSum(js: Seq[Job], k: String): Double = js.map(_.m(k)).sum

    // engine phases
    val phases = ops.flatMap(t.phasesUnder)
    Seq("analysis", "optimization", "planning").foreach { p =>
      m(s"spark.plan.${p}_s") = phases.filter(_._1 == p).map(_._2).sum / 1000.0 / n
    }
    m("spark.codegen.compile_s") = ops.map(_.counters.getOrElse("codegen.compile_s", 0.0)).sum / n
    m("spark.codegen.classes") = ops.map(_.counters.getOrElse("codegen.classes", 0.0)).sum / n
    m("spark.sched.jobs") = jobs.size / n
    m("spark.sched.stages") = jobSum(jobs, "stages") / n
    m("spark.sched.tasks") = jobSum(jobs, "tasks") / n
    m("spark.sched.driver_gap_s") = ops.map(t.driverGap).sum / n
    Seq("run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "shuffle_wait_s",
      "spill_mb", "failed_tasks").foreach(k => m(s"spark.exec.$k") = jobSum(jobs, k) / n)

    // modules, from the attribution pass
    val under = t.spans.filter(s => s.name == "attribution" && s.parent == 0).toSeq
      .flatMap(t.subtree)
    def named(name: String) = under.filter(_.name == name)
    def ctr(name: String, k: String) = named(name).map(_.counters.getOrElse(k, 0.0)).sum
    Modules.foreach { name =>
      m(s"$name.wall_s") = named(name).map(_.wall).sum
      m(s"$name.self_s") = named(name).map(t.self).sum
    }
    // ingest is set-up work: the median of the set-up repetitions
    val ingest = t.spans.take(setupSpans).filter(_.name == "core.tables").toSeq
    def median(v: Seq[Double]) = v.sorted.apply(v.size / 2)
    if (ingest.nonEmpty) {
      m("core.tables.wall_s") = median(ingest.map(_.wall))
      m("core.tables.self_s") = median(ingest.map(t.self))
    }
    m("io.sink.output_mb") = ctr("io.sink", "output_mb")
    m("io.sink.files") = ctr("io.sink", "files")
    def frac(name: String) = {
      val in = ctr(name, "input")
      if (in > 0) ctr(name, "kept") / in else 0.0
    }
    m("dedup.exact.kept_frac") = frac("dedup.exact")
    val cands = t.spans.filter(_.name == "probe").map(_.counters.getOrElse("candidates", 0.0)).sum
    m("dedup.near.candidates") = cands
    m("dedup.near.verified_per_candidate") =
      if (cands > 0) ctr("dedup.near", "pairs") / cands else 0.0
    m("dedup.near.shuffle_write_mb") =
      jobSum(named("dedup.near").flatMap(t.jobsUnder), "shuffle_write_mb")
    m("dedup.cc.iterations") = ctr("dedup.cc", "iterations")
    m("dedup.cc.jobs") = named("dedup.cc").flatMap(t.jobsUnder).size
    m("dedup.cc.driver_gap_s") = named("dedup.cc").map(t.driverGap).sum
    m("scorers.cpu_s") = jobSum(named("scorers").flatMap(t.jobsUnder), "cpu_s")
    m("clustering.jobs") = named("clustering").flatMap(t.jobsUnder).size
    m("clustering.driver_gap_s") = named("clustering").map(t.driverGap).sum
    m("selection.kept_frac") = frac("selection")

    // queries: where an op's wall time goes
    val wall = ops.map(_.wall).sum
    def share(v: Double) = if (wall > 0) v / wall else 0.0
    m("queries.plan_share") = share(phases.map(_._2).sum / 1000.0)
    m("queries.gap_share") = share(ops.map(t.driverGap).sum)
    m("queries.exec_share") = share(ops.map(t.jobUnion).sum)

    // streaming: micro-batch phases from the progress events
    val bs = t.batches.drop(batches0).toSeq
    def mean(k: String) =
      if (bs.isEmpty) 0.0 else bs.map(_.durations.getOrElse(k, 0L)).sum / 1000.0 / bs.size
    m("streaming.batches") = bs.size / n
    m("streaming.trigger_s") = mean("triggerExecution")
    m("streaming.add_batch_s") = mean("addBatch")
    m("streaming.query_planning_s") = mean("queryPlanning")
    m("streaming.get_batch_s") = mean("getBatch")
    m("streaming.latest_offset_s") = mean("latestOffset")
    m("streaming.wal_commit_s") = mean("walCommit")
    m("streaming.commit_offsets_s") = mean("commitOffsets")
    m("streaming.rows_per_batch") = if (bs.isEmpty) 0.0 else bs.map(_.rows).sum.toDouble / bs.size
    m("streaming.finalize_s") =
      ops.flatMap(t.subtree).filter(_.name == "streaming.finalize").map(_.wall).sum / n

    m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
  }
}
