package perfbench

import java.nio.file.Path

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, from the spans and listener counters.
  * Times and counts are per operation: the median over the traced run's
  * operations of that kind. */
object Layers {

  /** Prefix materializations of the ingest pipeline, in pipeline order. */
  val Prefixes: Seq[String] = Seq("prefix.reader", "prefix.chunker", "prefix.enrich", "prefix.embed")

  final case class IngestSample(full: Span, prefix: Seq[Span], chunksPerDoc: Double,
                                files: Double, storeFiles: Int, storeBytes: Long)

  final case class UpsertSample(span: Span, progress: Seq[StreamingQueryProgress],
                                deltaRecordBytes: Double,
                                before: Map[Path, Long], after: Map[Path, Long],
                                searches: Seq[Span]) {
    /** Files the write created (file names are unique per write). */
    def fresh: Set[Path] = after.keySet.diff(before.keySet)
    def touched: Set[String] = fresh.map(bucket)
  }

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)

  def bucket(p: Path): String = p.getParent.getFileName.toString

  /** Sum of one `durationMs` phase over a run's triggers, in seconds. */
  private def phase(ps: Seq[StreamingQueryProgress], key: String): Double =
    ps.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1000.0

  /** `measured` marks the first span of the measured window: set-up and
    * warm-up spans are left out. */
  def metrics(wl: Main.Workload, tracer: Tracer, measured: Int, dedup: DedupOp,
              ingest: Seq[IngestSample], rounds: Seq[UpsertSample],
              tracedPrimary: Seq[Double], untracedPrimary: Seq[Double]): Seq[(String, Double, String)] = {
    def prefixS(i: Int): Seq[Double] = ingest.map(_.prefix(i).seconds)
    def selfS(i: Int): Double =
      med(ingest.map(s => s.prefix(i).seconds - s.prefix(i - 1).seconds))
    val reader = ingest.map(_.prefix.head.counters)

    // the writer of the workload's primary operation: the bulk `run` on
    // ingest_bulk, the streaming incremental writer elsewhere
    val sinks: Seq[(String, Double, String)] =
      if (wl.primary == "ingest") Seq(
        ("sinks.self_s", med(ingest.map(s => s.full.seconds - s.prefix(3).seconds)), "s"),
        ("sinks.jobs_per_write", med(ingest.map(_.full.counters.jobs.toDouble)), "count"),
        ("sinks.pipeline_passes", med(ingest.map(_.full.counters.sourceScans.toDouble)), "count"),
        ("sinks.bytes_written", med(ingest.map(_.full.counters.outputBytes.toDouble)), "bytes"),
        ("sinks.files_written", med(ingest.map(_.storeFiles.toDouble)), "count"),
        ("sinks.buckets_touched_frac", 1.0, "frac"),
        ("sinks.survivor_bytes_read", 0.0, "bytes"),
        ("sinks.write_amp", med(ingest.map(s => s.full.counters.outputBytes.toDouble /
          s.storeBytes)), "ratio"),
        ("sinks.shuffle_write_bytes", med(ingest.map(_.full.counters.shuffleWrite.toDouble)), "bytes"))
      else Seq(
        ("sinks.self_s", med(rounds.map(r => phase(r.progress, "addBatch"))), "s"),
        ("sinks.jobs_per_write", med(rounds.map(_.span.counters.jobs.toDouble)), "count"),
        ("sinks.pipeline_passes", med(rounds.map(_.span.counters.sourceScans.toDouble)), "count"),
        ("sinks.bytes_written", med(rounds.map(_.span.counters.outputBytes.toDouble)), "bytes"),
        ("sinks.files_written", med(rounds.map(_.fresh.size.toDouble)), "count"),
        ("sinks.buckets_touched_frac", med(rounds.map(r =>
          r.touched.size.toDouble / math.max(1, r.after.keySet.map(bucket).size))), "frac"),
        // the survivor scan reads every pre-write file of a touched bucket
        // (parquet reads do not report their bytes to the task metrics)
        ("sinks.survivor_bytes_read", med(rounds.map(r =>
          r.before.collect { case (f, n) if r.touched(bucket(f)) => n }.sum.toDouble)), "bytes"),
        ("sinks.write_amp", med(rounds.map(r => r.span.counters.outputBytes / r.deltaRecordBytes)), "ratio"),
        ("sinks.shuffle_write_bytes", med(rounds.map(_.span.counters.shuffleWrite.toDouble)), "bytes"))

    val seed = tracer.named("upsert.seed").head.counters
    val searches = rounds.flatMap(_.searches)
    val dedups = tracer.named("dedup", measured)
    val primarySpans = tracer.named(wl.primary, measured)
    def perOp(f: Counters => Double): Double = med(primarySpans.map(s => f(s.counters)))

    Seq(
      ("sources.self_s", med(prefixS(0)), "s"),
      ("sources.tasks", med(reader.map(_.tasks.toDouble)), "count"),
      ("sources.input_bytes", med(reader.map(_.inputBytes.toDouble)), "bytes"),
      ("sources.files", med(ingest.map(_.files)), "count"),
      ("chunkers.self_s", selfS(1), "s"),
      ("chunkers.chunks_per_doc", med(ingest.map(_.chunksPerDoc)), "ratio"),
      ("processors.self_s", selfS(2), "s"),
      ("embed.self_s", selfS(3), "s")) ++
    sinks ++ Seq(
      ("sinks.seed_pipeline_passes", seed.sourceScans.toDouble, "count"),
      ("streaming.trigger_s", med(rounds.map(r => phase(r.progress, "triggerExecution"))), "s"),
      ("streaming.add_batch_s", med(rounds.map(r => phase(r.progress, "addBatch"))), "s"),
      ("streaming.query_planning_s", med(rounds.map(r => phase(r.progress, "queryPlanning"))), "s"),
      ("streaming.wal_commit_s", med(rounds.map(r => phase(r.progress, "walCommit"))), "s"),
      ("streaming.start_overhead_s", med(rounds.map(r =>
        r.span.seconds - phase(r.progress, "triggerExecution"))), "s"),
      ("streaming.input_rows", med(rounds.map(_.progress.map(_.numInputRows).sum.toDouble)), "count"),
      ("similarity.query_s", med(searches.map(_.seconds)), "s"),
      ("similarity.records_scanned", med(searches.map(_.counters.inputRecords.toDouble)), "count"),
      ("similarity.files_read", med(rounds.map(_.after.size.toDouble)), "count"),
      ("similarity.jobs_per_query", med(searches.map(_.counters.jobs.toDouble)), "count"),
      ("dedup.pairs_s", med(tracer.named("dedup.pairs", measured).map(_.seconds)), "s"),
      ("dedup.cc_s", med(tracer.named("dedup.cc", measured).map(_.seconds)), "s"),
      ("dedup.candidate_pairs", dedup.candidatePairs.toDouble, "count"),
      ("dedup.pairs_out", dedup.pairsOut.toDouble, "count"),
      ("dedup.candidate_yield", dedup.pairsOut.toDouble / math.max(1L, dedup.candidatePairs), "ratio"),
      ("dedup.shuffle_bytes", med(dedups.map(_.counters.shuffleWrite.toDouble)), "bytes"),
      ("dedup.spill_bytes", med(dedups.map(_.counters.spillDisk.toDouble)), "bytes"),
      ("spark.jobs", perOp(_.jobs.toDouble), "count"),
      ("spark.stages", perOp(_.stages.toDouble), "count"),
      ("spark.tasks", perOp(_.tasks.toDouble), "count"),
      ("spark.executor_run_s", perOp(_.runMs / 1000.0), "s"),
      ("spark.executor_cpu_s", perOp(_.cpuNs / 1e9), "s"),
      ("spark.gc_s", perOp(_.gcMs / 1000.0), "s"),
      ("spark.scheduler_delay_s", perOp(_.schedDelayMs / 1000.0), "s"),
      ("spark.shuffle_read_bytes", perOp(_.shuffleRead.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble), "bytes"),
      ("spark.spill_disk_bytes", perOp(_.spillDisk.toDouble), "bytes"),
      ("spark.peak_exec_mem_bytes", perOp(_.peakExecMem.toDouble), "bytes"),
      ("trace.overhead_frac", med(tracedPrimary) / med(untracedPrimary) - 1, "frac"))
  }
}
