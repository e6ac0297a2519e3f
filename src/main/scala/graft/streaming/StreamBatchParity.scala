package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.util.Using

/** Stream-batch parity harness: runs a BATCH corpus through a real
  * Structured Streaming execution (file source → watermarked stateful
  * operator → file sink) and hands the finalized output back as a
  * batch DataFrame, so the driver's DuckDB oracle can hash-compare a
  * STREAMING execution against the exact SQL the batch twin already
  * passes — the classic stream-batch parity proof (the Dataflow/
  * Structured-Streaming correctness argument, SIGMOD'18 §3: one
  * declarative query, incrementalized, must equal its batch answer).
  * The reference pipeline is itself an async stream over documents
  * (/root/reference/src/DataIngestion/IngestionPipeline.cs:117-170),
  * so streaming execution is a first-class surface here, not an
  * appendix.
  *
  * Mechanics — why sentinels: append-mode watermarked operators only
  * EMIT state the watermark has passed, so a drained stream would
  * keep its youngest windows/sessions open forever. The harness
  * stages the corpus as [[DataBatches]] TIME-SLICED micro-batch
  * files (equal slices of the event-time range, one file each,
  * strictly increasing mtimes — the file source's batch order, one
  * file per trigger), then two far-future sentinel rows as the final
  * micro-batches: the first advances the watermark past every real
  * event, the second executes under it and flushes every remaining
  * session timeout / open window. Time-ordered slices make the
  * incremental execution REAL — sessions and windows straddle batch
  * boundaries and state carries across triggers, mid-stream
  * finalization fires as the watermark advances — while proving no
  * late drops: every batch-(i+1) event is newer than the slice
  * boundary, which is newer than the watermark batch i left
  * (max_i − delay < boundary_i). Sentinel rows are tagged (negative
  * user, reserved event_type) and filtered from the returned result.
  * State stays bounded the whole way: one open session per user /
  * one row per open window — arrival-cardinality, never stream
  * length, exactly as the same query would run unbounded at cluster
  * scale.
  */
object StreamBatchParity {

  /** Far enough that `sentinel1 − watermarkDelay` clears every real
    * event's session timeout (end + gap) and window close: one day. */
  private val SentinelGapSec = 86400L

  /** Time slices the corpus stages as — each is one real micro-batch
    * carrying state over to the next. */
  // private[graft] (not [streaming]): SparkEntry.streamCurateSql unrolls
  // exactly this many batch CTEs — deriving it here keeps the oracle and
  // the harness from silently diverging if the batch count changes
  private[graft] val DataBatches = 4

  private def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      Using.resource(Files.walk(p))(_.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () }))
    }
  }

  /** Write `df` as exactly one parquet file named `name` inside `dir`
    * with the given mtime (the file source orders batches by mtime). */
  private def stageFile(df: DataFrame, dir: Path, name: String,
                        mtimeMs: Long): Unit = {
    val staging = Files.createTempDirectory("graft-parity-stage")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(staging.toString)
      val part = Using.resource(Files.list(staging))(
        _.filter(_.getFileName.toString.endsWith(".parquet")).findFirst())
        .orElseThrow(() => new IllegalStateException("no parquet part written"))
      val target = dir.resolve(name)
      Files.move(part, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(mtimeMs))
      ()
    } finally deleteRecursively(staging)
  }

  /** [[stageFile]] for a json-source stream (the ingest stream's
    * wire format): one json file named `name`, given mtime. */
  private def stageJsonFile(df: DataFrame, dir: Path, name: String,
                            mtimeMs: Long): Unit = {
    val staging = Files.createTempDirectory("graft-parity-stage")
    try {
      df.coalesce(1).write.mode("overwrite").json(staging.toString)
      val part = Using.resource(Files.list(staging))(
        _.filter(_.getFileName.toString.endsWith(".json")).findFirst())
        .orElseThrow(() => new IllegalStateException("no json part written"))
      val target = dir.resolve(name)
      Files.move(part, target)
      Files.setLastModifiedTime(target, FileTime.fromMillis(mtimeMs))
      ()
    } finally deleteRecursively(staging)
  }

  /** Stage every listed slice of `df` (which must carry an integer
    * `__slice` column) as ONE file per slice in `dir` via a SINGLE
    * Spark job: a hash repartition on the slice value means exactly
    * one task writes each slice, the partitioned write lays each out
    * under `__slice=i/`, and the driver then just renames the part
    * files into mtime-ordered position (r13 optimization round, guide
    * §1.2: the per-slice filter+coalesce(1) staging paid one full
    * plan→job cycle per micro-batch file — 4-6 driver round-trips per
    * parity query — for work one partitioned write does in one pass).
    * A slice with no rows (the curate harness stages a deliberate
    * id-gap batch) produces no directory; it falls back to the
    * single-file empty write so the staged batch SEQUENCE — and with
    * it batch ids, watermark advancement and checkpoint offsets — is
    * identical to the per-slice staging it replaces. */
  private def stageSliced(df: DataFrame, dir: Path,
                          files: Seq[(Int, String, Long)],
                          json: Boolean): Unit = {
    val staging = Files.createTempDirectory("graft-parity-stage")
    try {
      val w = df.repartition(col("__slice"))
        .write.mode("overwrite").partitionBy("__slice")
      if (json) w.json(staging.toString) else w.parquet(staging.toString)
      val ext = if (json) ".json" else ".parquet"
      for ((idx, name, mtimeMs) <- files) {
        val pdir = staging.resolve(s"__slice=$idx")
        val part =
          if (Files.exists(pdir))
            Using.resource(Files.list(pdir))(
              _.filter(_.getFileName.toString.endsWith(ext)).findFirst())
          else java.util.Optional.empty[Path]()
        if (part.isPresent) {
          val target = dir.resolve(name)
          Files.move(part.get, target)
          Files.setLastModifiedTime(target, FileTime.fromMillis(mtimeMs))
          ()
        } else {
          val empty = df.drop("__slice").where(lit(false))
          if (json) stageJsonFile(empty, dir, name, mtimeMs)
          else stageFile(empty, dir, name, mtimeMs)
        }
      }
    } finally deleteRecursively(staging)
  }

  /** Slice index of an id/seq value for the id-range staging loops:
    * slice i covers [lo0 + range*i/n, lo0 + range*(i+1)/n), the last
    * unbounded above — exactly the per-slice filters it replaces. */
  private def idSlice(id: org.apache.spark.sql.Column, lo0: Long,
                      range: Long): org.apache.spark.sql.Column =
    (1 until DataBatches).map(i => lo0 + range * i / DataBatches)
      .zipWithIndex
      .foldRight(lit(DataBatches - 1): org.apache.spark.sql.Column) {
        case ((cut, i), acc) => when(id < cut, lit(i)).otherwise(acc)
      }

  /** Run `body` (a streaming drain whose per-trigger batch jobs
    * inherit the session shuffle width) at the data-derived width
    * [[StreamingIngest.statePartitionsFor]] computes — coalesce-down
    * only, restored afterwards so batch queries are untouched. */
  private def withStreamWidth[A](spark: SparkSession, nRows: Long)(body: => A): A = {
    val confKey = "spark.sql.shuffle.partitions"
    val previous = spark.conf.get(confKey)
    spark.conf.set(confKey,
      StreamingIngest.statePartitionsFor(spark, nRows).toString)
    try body finally spark.conf.set(confKey, previous)
  }

  /** Stage corpus+sentinels as ordered micro-batch files, start the
    * query `mkQuery(stream, outDir, ckptDir)` builds, drain it, and
    * return the sink's contents pinned via localCheckpoint so the
    * temp tree can be deleted before the caller materializes.
    * `mkSentinel` builds the one-row sentinel from s1 (the far-future
    * watermark-advancing event time). Returns (result, minSec, maxSec).
    */
  private def runStreamWith(spark: SparkSession, corpus: DataFrame,
                            mkSentinel: Long => DataFrame)(
      mkQuery: (DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): (DataFrame, Long, Long) = {
    val work = Files.createTempDirectory("graft-parity")
    val in = Files.createDirectory(work.resolve("in"))
    val schema: StructType = corpus.schema
    // pin the corpus once: the slice staging and the partition sizing
    // both read it — without the checkpoint every consumer re-executed
    // the whole corpus pipeline (r12 optimization round, guide §5)
    val pinned = corpus.localCheckpoint(true)
    try {
      val t0 = System.currentTimeMillis()
      // ONE job computes the event-time bounds AND the row count (was
      // three driver actions: a timeBounds agg over the UN-pinned
      // corpus, then a count over the pinned one — r13 round)
      val b = pinned.agg(min(unix_seconds(col("ts"))),
        max(unix_seconds(col("ts"))), count(lit(1))).head()
      val (minSec, maxSec, nRows) = (b.getLong(0), b.getLong(1), b.getLong(2))
      // time-sliced data batches: slice i holds [b_i, b_{i+1}) of the
      // event-time range (first/last unbounded below/above, so the
      // slices partition the corpus whatever min/max are), each its
      // own micro-batch — state genuinely carries across triggers and
      // no event can be late (batch i+1 is entirely newer than the
      // watermark batch i left behind)
      val range = maxSec - minSec
      val sec = unix_seconds(col("ts"))
      val cuts = (1 until DataBatches).map(i => minSec + range * i / DataBatches)
      val slice = cuts.zipWithIndex.foldRight(lit(DataBatches - 1): org.apache.spark.sql.Column) {
        case ((cut, i), acc) => when(sec < cut, lit(i)).otherwise(acc)
      }
      // two sentinel batches: the first advances the watermark past
      // every real event, the second runs under it and flushes all
      // remaining state. The first rides the staging job as the last
      // slice; the second is byte-identical, so it is a driver-side
      // file copy, not another Spark job.
      val sentinel = mkSentinel(maxSec + SentinelGapSec)
        .limit(1).toDF(corpus.columns: _*)
      stageSliced(
        pinned.withColumn("__slice", slice)
          .unionByName(sentinel.withColumn("__slice", lit(DataBatches))),
        in,
        (0 until DataBatches).map(i =>
          (i, f"$i%03d-corpus.parquet", t0 + i * 60000L)) :+
          ((DataBatches, "900-sentinel.parquet", t0 + 600000L)),
        json = false)
      val s2 = in.resolve("901-sentinel.parquet")
      Files.copy(in.resolve("900-sentinel.parquet"), s2)
      Files.setLastModifiedTime(s2, FileTime.fromMillis(t0 + 1200000L))
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      // the streaming query runs at a data-derived state width
      // (StreamingIngest.statePartitionsFor — streaming has no AQE
      // coalescing, and this harness creates a fresh checkpoint per
      // run, so the width is free to follow the staged corpus size);
      // restored after the drain so batch queries are untouched
      val confKey = "spark.sql.shuffle.partitions"
      val previous = spark.conf.get(confKey)
      spark.conf.set(confKey,
        StreamingIngest.statePartitionsFor(spark, nRows).toString)
      try {
        val query = mkQuery(stream, work.resolve("out").toString,
          work.resolve("ckpt").toString)
        try {
          query.processAllAvailable()
        } finally query.stop()
      } finally spark.conf.set(confKey, previous)
      (spark.read.parquet(work.resolve("out").toString).localCheckpoint(true),
        minSec, maxSec)
    } finally {
      pinned.unpersist()
      deleteRecursively(work)
    }
  }

  /** [[runStreamWith]] specialized to an append-mode parquet sink over
    * a plain streaming transform. */
  private def runStream(spark: SparkSession, corpus: DataFrame,
                        mkSentinel: Long => DataFrame,
                        transform: DataFrame => DataFrame): (DataFrame, Long, Long) =
    runStreamWith(spark, corpus, mkSentinel) { (stream, out, ckpt) =>
      transform(stream).writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .format("parquet")
        .start()
    }

  /** Streaming sessionization of a batch events corpus, returned in
    * the q_sessionize shape (user_id, session_id, n_events, start_sec,
    * end_sec): [[StreamingIngest.sessionizeStream]] closes sessions by
    * gap and event-time timeout across micro-batches; session ids are
    * then numbered per user in start order — deterministic because a
    * user's sessions are disjoint by construction (> gap apart).
    * `events` must carry (user_id: long, sec: long epoch seconds).
    */
  def sessionizeParity(spark: SparkSession, events: DataFrame,
                       gapSeconds: Long = 1800): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val corpus = events
      .select(col("user_id").cast("long").as("user_id"),
        timestamp_seconds(col("sec")).as("ts"))
    val (closed, _, _) = runStream(spark, corpus,
      s1 => spark.range(1)
        .select(lit(-1L).as("user_id"), timestamp_seconds(lit(s1)).as("ts")),
      st => StreamingIngest.sessionizeStream(spark, st, gapSeconds,
        watermarkDelay = "30 minutes").toDF())
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_sec"))
    closed.where(col("user_id") >= 0)
      .withColumn("session_id", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_sec"), col("end_sec"))
      .orderBy(col("user_id"), col("session_id"))
  }

  /** Streaming tumbling-window counts of a batch events corpus,
    * returned in the q_event_windows shape (hour_start, event_type,
    * n_events, sum_value): [[StreamingIngest.eventWindowCounts]] with
    * 1-hour windows, finalized by watermark, sentinel window dropped.
    * `events` must carry (event_type: string, value: double,
    * sec: long epoch seconds).
    */
  def windowCountsParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events
      .select(col("event_type").cast("string").as("event_type"),
        col("value").cast("double").as("value"),
        timestamp_seconds(col("sec")).as("ts"))
    val (wins, _, maxSec) = runStream(spark, corpus,
      s1 => spark.range(1)
        .select(lit("\u0000sentinel").as("event_type"), lit(0.0).as("value"),
          timestamp_seconds(lit(s1)).as("ts")),
      st => StreamingIngest.eventWindowCounts(st,
        windowLen = "1 hour", watermark = "30 minutes"))
    wins
      .select(unix_seconds(col("window_start")).as("hour_start"),
        col("event_type"), col("n_events"),
        col("sum_value").cast("double").as("sum_value"))
      .where(col("hour_start") <= maxSec && col("event_type") =!= "\u0000sentinel")
      .orderBy(col("hour_start"), col("event_type"))
  }
  /** Streaming drift monitor over a batch events corpus, returned as
    * finalized per-window PSI rows (hour_start, n_bins, t_new, psi):
    * [[StreamingIngest.driftMonitor]] with 1-hour windows against the
    * corpus's own overall value histogram as the static baseline —
    * the foreachBatch (writer-shaped) streaming operator, so parity
    * here also proves the batch-side join/smoothing inside the sink
    * callback, not just the watermarked window state. `events` must
    * carry (event_type: string, sec: long epoch seconds).
    */
  /** Streaming dedup of an at-least-once event feed, returned in
    * exact-dedup shape (event_id, user_id, event_type):
    * [[StreamingIngest.dedupStream]] over the corpus plus INJECTED
    * re-deliveries — an exact same-timestamp copy for ids ≡0 (mod 3)
    * and a 60-second-later redelivery for ids ≡0 (mod 5), the two
    * shapes an at-least-once source actually produces. Both are
    * provably dropped whatever the batch boundaries: a redelivery's
    * previous-batch max event time can exceed the first arrival by at
    * most one 60 s redelivery lag (time-ordered slices), far under
    * the 2×30 min watermark-delay bound state eviction needs — so the
    * streaming answer is exactly the original (unique-keyed) corpus,
    * and the oracle is a plain scan of it. Dedup state is one row per
    * key inside the delay window — arrival rate × delay, never stream
    * length. `events` must carry (event_id, user_id: long,
    * event_type: string, sec: long epoch seconds).
    */
  def dedupParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val original = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      timestamp_seconds(col("sec")).as("ts"))
    val corpus = original
      .unionByName(original.where(col("event_id") % 3 === 0))
      .unionByName(original.where(col("event_id") % 5 === 0)
        .withColumn("ts", timestamp_seconds(unix_seconds(col("ts")) + 60)))
    val (deduped, _, _) = runStream(spark, corpus,
      s1 => spark.range(1)
        .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          lit("\u0000sentinel").as("event_type"),
          timestamp_seconds(lit(s1)).as("ts")),
      st => StreamingIngest.dedupStream(st, Seq("event_id"),
        tsCol = "ts", watermarkDelay = "30 minutes"))
    // ts stays out of the result: which arrival survives a same-batch
    // race is engine-internal, but its key attributes are identical
    deduped.where(col("event_id") >= 0)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))
  }

  /** Streaming execution of the INGESTION PIPELINE itself — the
    * reference's own shape (its pipeline is an async stream over
    * documents): the documents corpus staged as id-range json
    * micro-batch files, run through [[StreamingIngest.chunkStream]]
    * (reader → chunker → enrichers, one micro-batch per file) into an
    * append parquet sink, and the chunk rows returned so the driver
    * hash-gates them against the SAME batch SQL i_pipeline_e2e
    * passes. The pipeline is stateless per document, so parity here
    * is pure plumbing-correctness: schema through the json hop,
    * checkpointed exactly-once sink, per-batch chunker/enricher
    * execution. `documents` must carry the documentSchema columns
    * (doc_id, text, lang, source).
    */
  def ingestParity(spark: SparkSession, documents: DataFrame): DataFrame = {
    val work = Files.createTempDirectory("graft-parity-ingest")
    val in = Files.createDirectory(work.resolve("in"))
    try {
      val docs = documents.select(col("doc_id").cast("long"),
        col("text").cast("string"), col("lang").cast("string"),
        col("source").cast("string"))
        // pinned: bounds agg + slice staging read it
        .localCheckpoint(true)
      // ONE job: id bounds + row count (partition sizing below)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id")),
        count(lit(1))).head()
      val (lo0, hi0, nRows) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val range = hi0 - lo0 + 1
      val t0 = System.currentTimeMillis()
      stageSliced(docs.withColumn("__slice", idSlice(col("doc_id"), lo0, range)),
        in,
        (0 until DataBatches).map(i =>
          (i, f"$i%03d-docs.json", t0 + i * 60000L)),
        json = true)
      val chunks = StreamingIngest.chunkStream(spark, in.toString,
        maxFilesPerTrigger = 1)
      // data-derived shuffle width for the per-trigger batch jobs, the
      // same coalesce-down [[StreamingIngest.statePartitionsFor]]
      // applies to the stateful streams (r12 verdict item 1: the
      // custom staging loops never got the override)
      withStreamWidth(spark, nRows) {
        chunks.writeStream
          .outputMode("append")
          .option("checkpointLocation", work.resolve("ckpt").toString)
          .option("path", work.resolve("out").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .format("parquet")
          .start().awaitTermination()
      }
      spark.read.parquet(work.resolve("out").toString).localCheckpoint(true)
    } finally deleteRecursively(work)
  }

  /** Streaming UPSERT-writer parity — the reference's incremental
    * ingestion under streaming execution: the corpus staged as four
    * id-range json micro-batches, then a FIFTH batch re-ingesting
    * revised copies of every 10th document (text + " rev2");
    * [[StreamingIngest.incrementalWriter]] runs the vector-store
    * writer's dynamic-partition-overwrite per micro-batch, so the
    * revised documents must REPLACE their previous records and the
    * final store must equal the batch writer's output over the
    * revised corpus — which is exactly what the driver's SQL oracle
    * computes. Proves replace-by-documentid semantics survive
    * incremental execution, checkpointing, and the copy-on-write
    * bucket rewrite. `documents` must carry the documentSchema
    * columns.
    */
  def upsertWriterParity(spark: SparkSession, documents: DataFrame): DataFrame = {
    import graft.operators.{ChunkerOptions, Chunkers}
    val work = Files.createTempDirectory("graft-parity-upsert")
    val in = Files.createDirectory(work.resolve("in"))
    try {
      val docs = documents.select(col("doc_id").cast("long"),
        col("text").cast("string"), col("lang").cast("string"),
        col("source").cast("string"))
        // pinned: bounds agg + slice staging read it
        .localCheckpoint(true)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id")),
        count(lit(1))).head()
      val (lo0, hi0, nRows) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val range = hi0 - lo0 + 1
      val t0 = System.currentTimeMillis()
      // the re-ingestion batch: revised copies under the SAME ids —
      // the incremental writer must replace, not append. It rides the
      // SAME staging job as the DataBatches slices (slice DataBatches).
      val revised = docs.where(col("doc_id") % 10 === 0)
        .withColumn("text", concat(col("text"), lit(" rev2")))
      stageSliced(
        docs.withColumn("__slice", idSlice(col("doc_id"), lo0, range))
          .unionByName(revised.withColumn("__slice", lit(DataBatches))),
        in,
        (0 until DataBatches).map(i =>
          (i, f"$i%03d-docs.json", t0 + i * 60000L)) :+
          ((DataBatches, "900-revised.json", t0 + 600000L)),
        json = true)
      val stream = spark.readStream.schema(StreamingIngest.documentSchema)
        .option("maxFilesPerTrigger", 1)
        .json(in.toString)
      val chunks = Chunkers.tokenChunks(stream,
          ChunkerOptions(maxTokens = 64, overlap = 16))
        .withColumn("context", lit(""))
      withStreamWidth(spark, nRows) {
        StreamingIngest.incrementalWriter(chunks,
          work.resolve("out").toString, work.resolve("ckpt").toString,
          dim = 16).start().awaitTermination()
      }
      spark.read.parquet(work.resolve("out").toString).localCheckpoint(true)
    } finally deleteRecursively(work)
  }

  /** Stream-stream interval join parity, in the view→purchase
    * attribution shape: left = 'view' events, right = 'purchase'
    * events of the same user within one hour, both sides derived
    * from ONE staged corpus stream (a streaming self-join).
    * [[StreamingIngest.streamStreamJoin]] emits matches eagerly as
    * the later side arrives; state eviction only discards a buffered
    * row once the watermark proves no future match can exist, and the
    * time-ordered slices prove nothing arrives late — so the emitted
    * pair set is exactly the batch interval join, which is the oracle.
    * Join state is bounded by arrival rate × (interval + delay),
    * never stream length. `events` must carry (event_id, user_id:
    * long, event_type: string, sec: long epoch seconds).
    */
  def joinParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      timestamp_seconds(col("sec")).as("ts"))
    val (pairs, _, _) = runStream(spark, corpus,
      s1 => spark.range(1)
        .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          lit("\u0000sentinel").as("event_type"),
          timestamp_seconds(lit(s1)).as("ts")),
      st => StreamingIngest.streamStreamJoin(
        st.where(col("event_type") === "view").drop("event_type"),
        st.where(col("event_type") === "purchase").drop("event_type"),
        "user_id", within = "1 hour", watermark = "30 minutes"))
    pairs.select(col("event_id").as("view_id"),
        col("r_event_id").as("purchase_id"), col("user_id"),
        unix_seconds(col("ts")).as("view_sec"),
        unix_seconds(col("r_ts")).as("purchase_sec"))
      .orderBy(col("view_id"), col("purchase_id"))
  }

  /** Stream-static enrichment parity: the events corpus streamed
    * against a STATIC per-user profile dimension derived batch-side
    * from the same corpus (n_total events, first-seen second), via
    * [[StreamingIngest.streamStaticEnrich]] — the broadcast map-side
    * join runs once per micro-batch, and the enriched row set must
    * equal the batch join. Stateless, so parity proves the per-batch
    * dimension attach path (re-read + broadcast each trigger), the
    * standard way metadata reaches an event stream at any scale.
    * `events` must carry (event_id, user_id: long, event_type:
    * string, sec: long epoch seconds).
    */
  def enrichParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events.select(
      col("event_id").cast("long").as("event_id"),
      col("user_id").cast("long").as("user_id"),
      col("event_type").cast("string").as("event_type"),
      timestamp_seconds(col("sec")).as("ts"))
    // the static dimension is pinned ONCE: streamStaticEnrich re-reads
    // its static side every micro-batch, and without the checkpoint
    // each trigger re-ran the whole corpus aggregate (r13 round,
    // guide §5: reuse > recompute)
    val dim = corpus.groupBy(col("user_id")).agg(
      count(lit(1)).as("n_total"),
      min(unix_seconds(col("ts"))).as("first_seen_sec"))
      .localCheckpoint(true)
    val (enriched, _, _) = runStream(spark, corpus,
      s1 => spark.range(1)
        .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
          lit("\u0000sentinel").as("event_type"),
          timestamp_seconds(lit(s1)).as("ts")),
      st => StreamingIngest.streamStaticEnrich(st, dim, "user_id"))
    enriched.where(col("event_id") >= 0)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("n_total"), col("first_seen_sec"))
      .orderBy(col("event_id"))
  }

  /** Streaming CDC apply: the changelog staged as seq-range micro-
    * batches (the replayable, seq-ordered source the CDC contract
    * assumes), MERGEd incrementally into a parquet snapshot by
    * [[StreamingIngest.cdcStream]]'s foreachBatch, and the FINAL
    * snapshot returned — so the driver oracle hash-compares an
    * incremental sequence of copy-on-write merges against the batch
    * last-writer-wins SQL. Ops for one doc may straddle batch
    * boundaries (seq-range slicing cuts mid-doc); cross-batch
    * last-writer-wins must still converge to the same snapshot, which
    * is exactly the invariant a lakehouse MERGE pipeline relies on.
    * `base` must carry (doc_id: long, text: string); `changes`
    * (doc_id, seq: long, op: I/U/D, text).
    */
  def cdcParity(spark: SparkSession, base: DataFrame,
                changes: DataFrame): DataFrame = {
    val work = Files.createTempDirectory("graft-parity-cdc")
    val in = Files.createDirectory(work.resolve("in"))
    val snap = work.resolve("snap").toString
    try {
      base.select(col("doc_id"), col("text"))
        .write.mode("overwrite").parquet(snap)
      // pinned: the bounds agg + slice staging read the (4-way-union)
      // changelog
      val changes2 = changes.localCheckpoint(true)
      val b = changes2.agg(min(col("seq")), max(col("seq")),
        count(lit(1))).head()
      val (lo0, hi0, nRows) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val range = hi0 - lo0 + 1
      val t0 = System.currentTimeMillis()
      stageSliced(changes2.withColumn("__slice", idSlice(col("seq"), lo0, range)),
        in,
        (0 until DataBatches).map(i =>
          (i, f"$i%03d-changes.parquet", t0 + i * 60000L)),
        json = false)
      val stream = spark.readStream.schema(changes.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      // AvailableNow honors maxFilesPerTrigger, so the drain is a real
      // multi-batch incremental run, then the query stops itself
      withStreamWidth(spark, nRows) {
        StreamingIngest.cdcStream(stream, snap,
          work.resolve("ckpt").toString).start().awaitTermination()
      }
      spark.read.parquet(snap).localCheckpoint(true)
    } finally deleteRecursively(work)
  }

  def driftMonitorParity(spark: SparkSession, events: DataFrame): DataFrame = {
    val corpus = events
      .select(col("event_type").cast("string").as("event_type"),
        timestamp_seconds(col("sec")).as("ts"))
    val baseline = corpus.select(col("event_type"))
    val (psi, _, maxSec) = runStreamWith(spark, corpus,
      s1 => spark.range(1)
        .select(lit("\u0000sentinel").as("event_type"),
          timestamp_seconds(lit(s1)).as("ts"))) { (stream, out, ckpt) =>
      StreamingIngest.driftMonitor(stream, baseline, "event_type",
          sinkPath = out, checkpoint = ckpt,
          windowLen = "1 hour", watermark = "30 minutes")
        .start()
    }
    psi
      .select(unix_seconds(col("window_start")).as("hour_start"),
        col("n_bins"), col("t_new"), col("psi"))
      .where(col("hour_start") <= maxSec)
      .orderBy(col("hour_start"))
  }

  /** Streaming index-backed curation parity — continuous near-dup
    * admission control under real incremental execution: the corpus
    * staged as four id-range micro-batches, each foreachBatch probing
    * the persisted MinHash-LSH index for pairs vs everything already
    * accepted, dropping matched batch docs, and appending only the
    * survivors to the index ([[StreamingIngest.curateStream]]). The
    * final accept set (doc_id, batch) is hash-gated against the same
    * four-step admission sequence unrolled in SQL — proving the
    * index's build/append/probe lifecycle composes with checkpointed
    * streaming to the exact batch-sequential answer. `documents`
    * must carry (doc_id: long, text: string).
    */
  def curateParity(spark: SparkSession, documents: DataFrame): DataFrame = {
    val work = Files.createTempDirectory("graft-parity-curate")
    val in = Files.createDirectory(work.resolve("in"))
    try {
      val docs = documents.select(col("doc_id").cast("long"),
        col("text").cast("string"))
        // pinned: bounds agg + slice staging read it
        .localCheckpoint(true)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id")),
        count(lit(1))).head()
      val (lo0, hi0, nRows) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val range = hi0 - lo0 + 1
      val t0 = System.currentTimeMillis()
      stageSliced(docs.withColumn("__slice", idSlice(col("doc_id"), lo0, range)),
        in,
        (0 until DataBatches).map(i =>
          (i, f"$i%03d-docs.parquet", t0 + i * 60000L)),
        json = false)
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      withStreamWidth(spark, nRows) {
        StreamingIngest.curateStream(stream, work.resolve("idx").toString,
          work.resolve("accept").toString, work.resolve("ckpt").toString)
          .start().awaitTermination()
      }
      spark.read.parquet(work.resolve("accept").toString)
        .select(col("doc_id"), col("batch").cast("int").as("batch"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally deleteRecursively(work)
  }

  /** [[curateParity]] with a RETRACTION between the seed batch and the
    * rest of the stream — the right-to-be-forgotten composition
    * (driver row x_stream_retract): batch 0 admits and seeds the
    * index; then every EVEN id of the batch-0 slice retracts via
    * [[graft.operators.Dedup.removeFromDedupIndex]] (ids that were
    * dropped or never indexed no-op, so the request needs no knowledge
    * of what survived); the stream then RESUMES from the same
    * checkpoint over batches 1..n. Later batches must dedup against
    * the REDUCED index — a re-arrival of a retracted text admits, a
    * re-arrival of a kept survivor still drops — while the retracted
    * docs keep their batch-0 accept rows (retraction removes index
    * signal, not history). The SQL oracle unrolls the same sequence
    * with the batch-0 store contribution filtered to odd ids. */
  def curateRetractParity(spark: SparkSession, documents: DataFrame): DataFrame = {
    val work = Files.createTempDirectory("graft-parity-retract")
    val in = Files.createDirectory(work.resolve("in"))
    try {
      val docs = documents.select(col("doc_id").cast("long"),
        col("text").cast("string"))
        // pinned: bounds agg + both staging passes read it (and the
        // retraction re-filters the seed range for the victim ids)
        .localCheckpoint(true)
      val b = docs.agg(min(col("doc_id")), max(col("doc_id")),
        count(lit(1))).head()
      val (lo0, hi0, nRows) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val range = hi0 - lo0 + 1
      val t0 = System.currentTimeMillis()
      val cut1 = lo0 + range / DataBatches
      def run(): Unit = {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1)
          .parquet(in.toString)
        withStreamWidth(spark, nRows) {
          StreamingIngest.curateStream(stream, work.resolve("idx").toString,
            work.resolve("accept").toString, work.resolve("ckpt").toString)
            .start().awaitTermination()
        }
      }
      // run 1: the seed batch alone (one single-file staging job)
      stageFile(docs.where(col("doc_id") < cut1), in, "000-docs.parquet", t0)
      run()
      // the mid-stream retraction request
      graft.operators.Dedup.removeFromDedupIndex(spark,
        work.resolve("idx").toString,
        docs.where(col("doc_id") < cut1 && col("doc_id") % 2 === 0)
          .select(col("doc_id")))
      // run 2: the rest of the stream resumes from the checkpoint —
      // slices 1..n staged by ONE partitioned-write job
      stageSliced(
        docs.where(col("doc_id") >= cut1)
          .withColumn("__slice", idSlice(col("doc_id"), lo0, range)),
        in,
        (1 until DataBatches).map(i =>
          (i, f"$i%03d-docs.parquet", t0 + i * 60000L)),
        json = false)
      run()
      spark.read.parquet(work.resolve("accept").toString)
        .select(col("doc_id"), col("batch").cast("int").as("batch"))
        .orderBy(col("doc_id"))
        .localCheckpoint(true)
    } finally deleteRecursively(work)
  }

  /** Streaming IVF maintenance parity — the ANN-index twin of
    * [[curateParity]]: embeddings staged as four id-range
    * micro-batches (the first seeds the index and freezes its
    * centroids), then a FIFTH batch re-ingesting NEGATED copies of
    * every 10th vector under the same ids — the upsert must REPLACE
    * them, visibly flipping their cosines. The final ANN answer is
    * computed from the persisted store alone through the production
    * read path ([[graft.operators.Similarity.probeIvfIndex]] —
    * partition-pruned list scans), and is hash-gated against the
    * whole sequence replayed in SQL: centroids from the batch-0
    * id-range slice, every FINAL vector (re-ingested ids carrying
    * their revised embeddings) assigned to its frozen nearest
    * centroid, queries probing their top-nProbe lists. `embeddings`
    * must carry (vec_id: long, embedding: array<float>).
    */
  def ivfUpsertParity(spark: SparkSession, embeddings: DataFrame,
                      nLists: Int = 8, nProbe: Int = 4,
                      k: Int = 5): DataFrame = {
    import graft.operators.Similarity
    val work = Files.createTempDirectory("graft-parity-ivfup")
    val in = Files.createDirectory(work.resolve("in"))
    val idx = work.resolve("idx").toString
    try {
      val vecs = embeddings.select(col("vec_id").cast("long"), col("embedding"))
        .localCheckpoint(true) // pinned: bounds agg + slice staging read it
      val b = vecs.agg(min(col("vec_id")), max(col("vec_id")),
        count(lit(1))).head()
      val (lo0, hi0, nRows) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val range = hi0 - lo0 + 1
      val t0 = System.currentTimeMillis()
      // the re-ingestion batch: negated copies under the SAME ids —
      // staged by the same single job as the DataBatches slices
      val revised = vecs.where(col("vec_id") % 10 === 0)
        .withColumn("embedding",
          transform(col("embedding"), x => (-x).cast("float")))
      stageSliced(
        vecs.withColumn("__slice", idSlice(col("vec_id"), lo0, range))
          .unionByName(revised.withColumn("__slice", lit(DataBatches))),
        in,
        (0 until DataBatches).map(i =>
          (i, f"$i%03d-vecs.parquet", t0 + i * 60000L)) :+
          ((DataBatches, "900-revised.parquet", t0 + 600000L)),
        json = false)
      val stream = spark.readStream.schema(vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in.toString)
      // retrainEvery = 0: this harness hash-gates the FROZEN-centroid
      // upsert semantics against a SQL oracle that replays exactly
      // that; the in-loop re-train policy (r12) is spec-gated
      // separately (IvfFramesSpec) where the partial Lloyd step can
      // be asserted against the operator itself rather than unrolled
      // in SQL
      withStreamWidth(spark, nRows) {
        StreamingIngest.ivfUpsertStream(stream, idx,
          work.resolve("ckpt").toString, nLists, retrainEvery = 0)
          .start().awaitTermination()
      }
      // final answer from the persisted store through the production
      // probe path: per query, the top-nProbe lists' partitions scan
      // (self row dropped — cos(q,q)=1 always leads, so k+1 covers it)
      val queries = spark.read.parquet(s"$idx/lists")
        .where(col("vec_id") < 5)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      // k+1 then drop self: cos(q,q) = 1 strictly leads (random
      // floats admit no other exact-1 cosine), so exactly k remain.
      // All queries probe in ONE batched pass (r13: the per-query
      // probeIvfIndex loop re-collected the centroid table and
      // re-scanned shared list directories once per query) — row-
      // identical to the loop by probeIvfIndexBatch's order contract.
      val hits = Similarity.probeIvfIndexBatch(spark, idx,
        queries.toSeq, k = k + 1, nProbe = nProbe)
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("nbr_id"), col("cos"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("nbr_id"))
      hits
        .withColumn("rank", row_number().over(w))
        .select(col("query_id"), col("rank"), col("nbr_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("query_id"), col("rank"))
        .localCheckpoint(true)
    } finally deleteRecursively(work)
  }
}
