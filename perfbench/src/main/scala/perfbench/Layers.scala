package perfbench

/** The per-layer metrics every traced run prints, in output order. A
  * workload reports the ones its operations exercise; the rest print 0.
  */
object Layers {
  val BatchSql: Seq[String] =
    Seq("q3_shipping", "q5_local_supplier", "q10_returned_items", "q18_large_orders")
  val BatchOperators: Seq[String] = Seq("near_dup_jaccard", "minhash_lsh_pairs",
    "semantic_dedup", "tfidf_top_terms", "ann_knn_all")

  val Common: Seq[String] = Seq(
    "params.format_ms", "facade.query_ms", "facade.self_ms",
    "catalyst.analysis_ms", "catalyst.optimize_plan_ms", "mapper.bind_ms",
    "exec.collect_ms", "exec.jobs_per_op", "exec.stages_per_op",
    "exec.tasks_per_op", "exec.shuffle_write_bytes_per_op",
    "exec.spill_bytes_per_op", "exec.executor_run_ms_per_op",
    "exec.gc_ms_per_op", "exec.codegen_compiles_per_op", "catalog.files_read_per_op",
    "catalog.live_files_per_op", "catalog.files_pruned_ratio")

  val Names: Seq[String] = Common ++ Seq(
    "catalog.resolve_ms", "catalog.snapshots_live", "catalog.manifests_live",
    "commit.p50_ms", "commit.p95_ms", "commit.delete_ms",
    "commit.files_per_commit", "commit.bytes_written_per_user_byte",
    "commit.jobs_per_commit", "read.p50_ms", "read.p95_ms",
    "maint.compact_ms", "maint.expire_ms", "maint.bytes_rewritten",
    "maint.cycles") ++
    BatchSql.map(q => s"sql.${q}_s") ++ Seq("sql.q1_pricing_failures") ++
    BatchSql.map(q => s"catalyst.plan_ms.$q") ++
    BatchOperators.map(o => s"operators.${o}_s") ++
    Seq("batch.sql_s", "batch.operators_s", "batch.unload_s",
      "unload.bytes_written", "unload.files_written") ++
    Seq("trace.overhead.ops_per_s_pct", "trace.overhead.p50_ms_pct")

  /** Spans around the facade's typed query functions. */
  val FacadeCalls: Seq[String] = Seq("facade.queryAs", "facade.queryScalar", "facade.queryIterator")

  /** Facade, Catalyst, mapper, execution and scan figures over the
    * operations of the given kinds.
    *
    * Facade and analysis times are spans around `GraftEngine.query`; the
    * optimization and planning time and the Spark jobs' wall time belong
    * to the executed query; the mapper (`ResultMapper` binding and the
    * decoding of the rows) is what remains of the facade call.
    */
  def common(tr: Tracer, kinds: Set[String]): Seq[(String, Double)] = {
    val ops = tr.ops(kinds)
    val opSet = ops.toSet
    def perOp(name: String): Map[Long, Double] = tr.perOp(name).filter(kv => opSet(kv._1))
    def med(name: String): Double = Stats.median(perOp(name).values.toSeq)
    val query = perOp("facade.query")
    val selfMs = query.map { case (op, q) =>
      q - tr.perOp("catalyst.parsing").getOrElse(op, 0.0) -
        tr.perOp("catalyst.analysis").getOrElse(op, 0.0)
    }
    val optimize = tr.countByOp("catalyst.optimize_plan").filter(kv => opSet(kv._1))
    val jobs = ops.map(op => op -> tr.jobs.of(op)).toMap
    def perOpMean(k: String): Double = Stats.mean(jobs.values.map(_(k)).toSeq)
    val calls = FacadeCalls.map(perOp).reduce((a, b) => a ++ b)
    val mapper = calls.map { case (op, call) =>
      call - query.getOrElse(op, 0.0) - optimize.getOrElse(op, 0.0) - jobs(op)("job_ms")
    }
    val read = tr.countByOp("catalog.files_read").filter(kv => opSet(kv._1))
    val live = tr.countByOp("catalog.live_files").filter(kv => opSet(kv._1))
    val readWithBase = live.keys.toSeq.map(op => read.getOrElse(op, 0.0)).sum
    Seq(
      "params.format_ms" -> med("params.sql"),
      "facade.query_ms" -> Stats.median(query.values.toSeq),
      "facade.self_ms" -> Stats.median(selfMs.toSeq),
      "catalyst.analysis_ms" -> med("catalyst.analysis"),
      "catalyst.optimize_plan_ms" -> Stats.median(optimize.values.toSeq),
      "mapper.bind_ms" -> Stats.median(mapper.toSeq),
      "exec.collect_ms" -> Stats.median(jobs.values.map(_("job_ms")).toSeq),
      "exec.jobs_per_op" -> perOpMean("jobs"),
      "exec.stages_per_op" -> perOpMean("stages"),
      "exec.tasks_per_op" -> perOpMean("tasks"),
      "exec.shuffle_write_bytes_per_op" -> perOpMean("shuffle_write_bytes"),
      "exec.spill_bytes_per_op" -> perOpMean("spill_bytes"),
      "exec.executor_run_ms_per_op" -> perOpMean("executor_run_ms"),
      "exec.gc_ms_per_op" -> perOpMean("gc_ms"),
      // over every operation of the window: the counter is JVM-wide
      "exec.codegen_compiles_per_op" -> tr.codegenCompiles.toDouble / tr.opCount,
      "catalog.files_read_per_op" -> Stats.mean(ops.map(op => read.getOrElse(op, 0.0))),
      "catalog.live_files_per_op" -> Stats.mean(live.values.toSeq),
      "catalog.files_pruned_ratio" ->
        (if (live.isEmpty) Double.NaN else 1.0 - readWithBase / live.values.sum))
  }
}
