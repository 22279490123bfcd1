package perfbench

import graft.ice.manifest.ManifestAvro

/** The per-layer metrics of a traced run, named after the program's
  * modules. Every metric is printed for every workload; a layer the
  * workload never enters reads 0. Counts are per round of the workload's
  * fixed operation mix, times are means per call. */
object Layers {
  private def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def apply(wl: Workload, ctx: Ctx, planning: PlanningListener,
      rounds: Int): Seq[(String, (Double, String))] = {
    val r = rounds.toDouble
    val ex = ctx.exec
    val t = wl.mainTable
    val meta = t.metadata
    val liveManifests = t.currentSnapshot.toSeq
      .flatMap(s => ManifestAvro.readManifestList(s.manifestList))
    val metaBytes = ctx.cat.metadataLocation(t.ident)
      .map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p))).getOrElse(0L)
    def perOp(cat: String, what: String): Double =
      ratio(Trace.sum(s"$cat.$what"), Trace.sum(s"$cat.ops"))
    val plans = Trace.count("plan.files").toDouble
    Seq(
      // ice.catalog
      "catalog.load_ms" -> (Trace.meanMs("catalog.load"), "ms"),
      "catalog.commits" -> (Trace.count("catalog.commit") / r, "count"),
      "catalog.versions_written" -> (Trace.sum("catalog.versions_written") / r, "count"),
      // ice.meta
      "meta.json_bytes" -> (metaBytes.toDouble, "bytes"),
      "meta.snapshots_live" -> (meta.snapshots.size.toDouble, "count"),
      // ice.manifest
      "manifest.live_count" -> (liveManifests.size.toDouble, "count"),
      "manifest.live_bytes" -> (liveManifests.map(_.manifestLength).sum.toDouble, "bytes"),
      "manifest.bytes_written" -> (Trace.sum("manifest.bytes_written") / r, "bytes"),
      "manifest.entries_per_plan" -> (ratio(Trace.sum("plan.manifest_entries"), plans), "count"),
      // ice planning and ice.expr
      "plan.files_ms" -> (Trace.meanMs("plan.files"), "ms"),
      "plan.files_planned" -> (ratio(Trace.sum("plan.files_planned"), plans), "count"),
      "plan.files_live" -> (ratio(Trace.sum("plan.files_live"), plans), "count"),
      "plan.prune_ratio" -> (ratio(Trace.sum("plan.files_planned"), Trace.sum("plan.files_live")), "ratio"),
      // ice.connector
      "connector.splits_per_scan" -> (ratio(planning.splits.toDouble, planning.scans.toDouble), "count"),
      "connector.planning_ms" -> (perOp("query", "op_ms") - perOp("query", "job_ms"), "ms"),
      // Catalyst
      "catalyst.analysis_ms" -> (ratio(planning.analysisMs.toDouble, planning.queries.toDouble), "ms"),
      "catalyst.optimization_ms" -> (ratio(planning.optimizationMs.toDouble, planning.queries.toDouble), "ms"),
      "catalyst.planning_ms" -> (ratio(planning.planningMs.toDouble, planning.queries.toDouble), "ms"),
      // Spark execution
      "exec.jobs" -> (ex.jobs / r, "count"),
      "exec.tasks" -> (ex.tasks / r, "count"),
      "exec.run_s" -> (ex.runMs / 1e3 / r, "s"),
      "exec.cpu_s" -> (ex.cpuNs / 1e9 / r, "s"),
      "exec.gc_s" -> (ex.gcMs / 1e3 / r, "s"),
      "exec.input_bytes" -> (ex.inputBytes / r, "bytes"),
      "exec.records_read_per_row_returned" ->
        (ratio(ex.recordsRead.toDouble, Trace.sum("rows_returned")), "ratio"),
      "exec.shuffle_write_bytes" -> (ex.shuffleWriteBytes / r, "bytes"),
      "exec.spill_bytes" -> (ex.spillBytes / r, "bytes"),
      // ice.write
      "write.planning_ms" -> (perOp("write", "op_ms") - perOp("write", "job_ms"), "ms"),
      "write.job_s" -> (perOp("write", "job_ms") / 1e3, "s"),
      "write.files_added" -> (Trace.sum("write.files_added") / r, "count"),
      "write.avg_file_bytes" ->
        (ratio(Trace.sum("write.bytes_added"), Trace.sum("write.files_added")), "bytes"),
      "write.delete_files_live" ->
        (ratio(Trace.sum("write.delete_files_live"), Trace.sum("write.delete_files_samples")), "count"),
      // maintenance
      "maint.compact_s" -> (Trace.meanMs("maint.compact") / 1e3, "s"),
      "maint.files_rewritten" -> (ratio(Trace.sum("maint.files_rewritten"), Trace.count("maint.compact")), "count"),
      "maint.bytes_rewritten" -> (ratio(Trace.sum("maint.bytes_rewritten"), Trace.count("maint.compact")), "bytes"),
      "maint.expire_ms" -> (Trace.meanMs("maint.expire"), "ms"),
      "maint.rewrite_manifests_ms" -> (Trace.meanMs("maint.rewrite_manifests"), "ms"),
      "maint.orphans_removed" ->
        (ratio(Trace.sum("maint.orphans_removed"), Trace.count("maint.remove_orphans")), "count"),
      // graft.ops
      "ops.exact_dedup_s" -> (Trace.meanMs("ops.exact_dedup") / 1e3, "s"),
      "ops.minhash_lsh_s" -> (Trace.meanMs("ops.minhash_lsh") / 1e3, "s"),
      "ops.lsh_candidate_pairs" -> (Trace.sum("ops.lsh_candidate_pairs") / r, "count"),
      "ops.verified_pairs" -> (Trace.sum("ops.verified_pairs") / r, "count"),
      "ops.quality_s" -> (Trace.meanMs("ops.quality") / 1e3, "s"),
      "ops.sample_s" -> (Trace.meanMs("ops.sample") / 1e3, "s"),
      "ops.docs_kept" -> (Trace.sum("ops.docs_kept") / r, "count"))
  }

  /** Data files of the table's current snapshot: path -> bytes. */
  def liveDataFiles(t: graft.ice.IceTable): Map[String, Long] =
    t.newScan().planFiles().map(f => f.file.filePath -> f.file.fileSizeInBytes).toMap
}
