package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

/** The benchmark harness: one JVM, one closed-loop client, `local[4]`.
  *
  * Every run performs all three user operations, so that every end-to-end
  * metric has a value in every run; the workload names the operation that
  * gets the full-size inputs and most of the measured window, and the other
  * two run as fixed-size probes:
  *  - ingest: a markdown directory through `IngestionPipeline.canonical.run`
  *    into a fresh store;
  *  - upsert: one JSONL delta landed in the watched directory and drained by
  *    `observedChunkStream` → `incrementalWriter`, then top-10
  *    `semanticSearch` queries against the live store;
  *  - dedup: `ngramJaccardPairs` → `dedupByPairs` over a plain-text corpus.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             [--goldens FILE]
  */
object Main {

  final case class Sizes(ingestDocs: Int, storeDocs: Int, deltaDocs: Int,
                         queries: Int, dedupDocs: Int)

  final case class Workload(name: String, primary: String, sizes: Sizes)

  /** The primary operation gets full-size inputs and whatever is left of
    * the measured window; the other operations run as fixed-size probes at
    * their minimum count. Dedup runs the same corpus size in both. */
  def workload(name: String): Option[Workload] = name match {
    case "ingest_bulk" => Some(Workload(name, "ingest", Sizes(
      ingestDocs = 600, storeDocs = 100, deltaDocs = 8, queries = 10, dedupDocs = 300)))
    case "upsert_search" => Some(Workload(name, "upsert", Sizes(
      ingestDocs = 150, storeDocs = 1000, deltaDocs = 40, queries = 6, dedupDocs = 300)))
    case _ => None
  }

  /** Minimum operations per run: three for a median (five for the cheap
    * dedup pass), and enough upsert rounds for thirty searches, which put
    * the search tail at p66 or above. */
  val MinSearches = 30
  def minCount(op: String, sz: Sizes): Int = op match {
    case "upsert" => math.max(3, (MinSearches + sz.queries - 1) / sz.queries)
    case "dedup" => 5
    case _ => 3
  }
  val SetupReps = 3

  def newSession(work: Path): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = graft.GraftSession.builder(master = "local[4]", shufflePartitions = 4)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it:
    * (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    require(n > 10, s"a tail needs more than 10 samples, got $n")
    val s = xs.sorted
    (s(n - 11), (n - 10).toDouble / n, n)
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def json(v: Any): String = v match {
    case s: String => Gen.jsonString(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => s"${json(k.toString)}:${json(x)}" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case b: Boolean => b.toString
    case n: Number => n.toString
    case other => json(other.toString)
  }

  /** goldens.json: {"<seed>": {"<workload>": {"<key>": "<value>"}}}. */
  def goldens(file: Path, seed: Long, workload: String): Map[String, String] = {
    import org.json4s._
    val text = new String(Files.readAllBytes(file), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(text) \ seed.toString \ workload match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val wl = workload(opt.getOrElse("workload", "")).getOrElse {
      System.err.println(s"unknown workload '${opt.getOrElse("workload", "")}'")
      sys.exit(2)
    }
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files2.deleteTree(work)
    Files.createDirectories(work)

    val tally = new Tally
    val ctx = new Ctx(null, null, tally, seed)
    ctx.goldens = opt.get("goldens").map(f => goldens(Paths.get(f), seed, wl.name)).getOrElse(Map.empty)
    val sz = wl.sizes
    val ingest = new IngestOp(ctx, work.resolve("ingest"), sz.ingestDocs)
    val upsert = new UpsertOp(ctx, work.resolve("upsert"), sz.storeDocs, sz.deltaDocs, sz.queries)
    val dedup = new DedupOp(ctx, work.resolve("dedup"), sz.dedupDocs)

    // ---- set-up: session start, generation and store seeding, repeated
    // and the median taken; then one warm-up pass of each operation.
    // Reference results for the checks are computed once, off the clock,
    // before an operation's first check.
    val reps = if (traced) 1 else SetupReps
    val setupSecs = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val check0 = tally.checkNs
      ctx.spark = newSession(work)
      ctx.tracer = new Tracer(ctx.spark, traced)
      ctx.tracer.setActive(traced)
      ingest.generate()
      upsert.generate()
      dedup.generate()
      upsert.seed()
      (System.nanoTime() - t0 - (tally.checkNs - check0)) / 1e9
    }
    // one warm-up pass of every operation: a cold first pass takes about
    // twice as long as a warm one
    val warmupS = {
      val t0 = System.nanoTime()
      val check0 = tally.checkNs
      ingest.run()
      upsert.round(nQueries = 2)
      dedup.run()
      (System.nanoTime() - t0 - (tally.checkNs - check0)) / 1e9
    }
    val tracer = ctx.tracer

    // ---- measured window
    val ingestS = mutable.ArrayBuffer.empty[Double]
    val upsertS = mutable.ArrayBuffer.empty[Double]
    val searchS = mutable.ArrayBuffer.empty[Double]
    val dedupS = mutable.ArrayBuffer.empty[Double]
    val ingestTraced = mutable.ArrayBuffer.empty[Layers.IngestSample]
    val upsertTraced = mutable.ArrayBuffer.empty[Layers.UpsertSample]
    // traced run: the primary operation alternates traced and untraced
    // calls, for trace.overhead_frac
    val untracedPrimary = mutable.ArrayBuffer.empty[Double]
    val tracedPrimary = mutable.ArrayBuffer.empty[Double]

    def runOp(name: String, i: Int): Unit = try {
      val primary = name == wl.primary
      val on = traced && !(primary && i % 2 == 1)
      tracer.setActive(on)
      val secs = name match {
        case "ingest" =>
          val s = ingest.run()
          ingestS += s
          if (on) {
            val full = tracer.named("ingest").last
            val files = Files2.dataFiles(ingest.lastStore)
            val stats = ingest.prefixes()
            ingestTraced += Layers.IngestSample(full,
              Layers.Prefixes.map(tracer.named(_).last), stats("chunks_per_doc"),
              stats("files"), files.size, Files2.bytes(files))
          }
          s
        case "upsert" =>
          val before = if (on) Files2.sized(upsert.store) else Map.empty[Path, Long]
          val recBytes = if (on) upsert.storeRecordBytes else 0.0
          val (u, qs) = upsert.round()
          upsertS += u
          searchS ++= qs
          if (on) upsertTraced += Layers.UpsertSample(tracer.named("upsert").last,
            tracer.progress.forRun(upsert.lastRunId), recBytes * upsert.lastDeltaRecords, before, Files2.sized(upsert.store),
            tracer.named("search").takeRight(upsert.queries))
          u
        case "dedup" =>
          val s = dedup.run()
          dedupS += s
          s
      }
      tracer.setActive(traced)
      if (traced && primary) (if (on) tracedPrimary else untracedPrimary) += secs
    } catch {
      // an operation that throws counts as failed; the run goes on
      case NonFatal(e) =>
        ctx.record(ok = false, s"$name: $e")
        tracer.setActive(traced)
    }

    val measureStart = System.nanoTime()
    val firstSpan = tracer.mark
    val checkAtStart = tally.checkNs
    def measured: Double = (System.nanoTime() - measureStart - (tally.checkNs - checkAtStart)) / 1e9
    for (name <- Seq("ingest", "upsert", "dedup") if name != wl.primary; i <- 0 until minCount(name, sz))
      runOp(name, i)
    var i = 0
    while (i < minCount(wl.primary, sz) || measured < seconds) {
      runOp(wl.primary, i)
      i += 1
    }
    val measuredS = measured
    tracer.setActive(false)

    // ---- results
    val rss = peakRssMb()
    val (seTail, seQ, seN) = tail(searchS.toSeq)
    val inputs = Map(
      "workload" -> wl.name, "seed" -> seed, "primary" -> wl.primary,
      "ingest" -> ingest.props, "upsert" -> (upsert.props ++ upsert.deltaProps),
      "dedup" -> dedup.props)
    val details = Map(
      "measured_s" -> measuredS, "setup_reps_s" -> setupSecs, "warmup_s" -> warmupS,
      "ingest_passes" -> ingestS.size, "upsert_rounds" -> upsertS.size,
      "searches" -> searchS.size, "dedup_passes" -> dedupS.size,
      "search_tail" -> Map("percentile" -> seQ, "samples" -> seN),
      "samples_s" -> Map("ingest" -> ingestS.toSeq, "upsert" -> upsertS.toSeq,
        "dedup" -> dedupS.toSeq),
      "check_s" -> tally.checkNsBy.map { case (k, v) => k -> v / 1e9 }.toMap, "failures" -> tally.failures.toSeq)
    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", median(setupSecs) + warmupS, "s"),
        ("ingest_docs_per_s", median(ingestS.map(sz.ingestDocs / _).toSeq), "docs/s"),
        ("store_bytes_per_input_byte", median(ingest.storeBytesPerInputByte.toSeq), "ratio"),
        ("upsert_p50_s", median(upsertS.toSeq), "s"),
        ("search_p50_ms", median(searchS.toSeq) * 1000, "ms"),
        ("search_tail_ms", seTail * 1000, "ms"),
        ("dedup_docs_per_s", median(dedupS.map(sz.dedupDocs / _).toSeq), "docs/s"),
        ("peak_rss_mb", rss, "MB"),
        ("ok_ops_frac", 1.0 - tally.failed.toDouble / math.max(1L, tally.attempted), "frac"))
      else Layers.metrics(wl, tracer, firstSpan, dedup, ingestTraced.toSeq,
        upsertTraced.toSeq, tracedPrimary.toSeq, untracedPrimary.toSeq)

    val results = work.getParent.resolve("results")
    Files.createDirectories(results)
    val tag = s"${wl.name}-seed$seed-trace${if (traced) 1 else 0}"
    if (traced) tracer.write(results.resolve(s"$tag.spans.json"))
    val metricJson = metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap
    Files.write(results.resolve(s"$tag.json"), json(Map("inputs" -> inputs,
      "details" -> details, "metrics" -> metricJson)).getBytes("UTF-8"))
    ctx.spark.stop()
    Files2.deleteTree(work)

    println("inputs " + json(inputs))
    println("details " + json(details))
    metrics.foreach { case (n, v, u) => println(f"metric $n%-28s $v%.6f $u") }
    println(s"check ${if (tally.failed == 0) "PASS" else "FAIL"}: " +
      s"${tally.attempted - tally.failed}/${tally.attempted} operations correct")
    println(json(Map("correct" -> (tally.failed == 0), "attempted" -> tally.attempted,
      "failed" -> tally.failed, "metrics" -> metricJson)))
  }
}
