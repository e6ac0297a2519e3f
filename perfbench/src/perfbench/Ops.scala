package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import graft.functions.native
import graft.operators.{Dedup, Similarity}
import graft.pipeline.IngestionPipeline
import graft.sinks.VectorStoreWriter
import graft.sources.DocumentSource
import graft.streaming.StreamingIngest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Checked operations of one run: attempted, and failed or incorrect. */
final class Tally {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  // time spent computing reference results and checking outputs; it is
  // kept out of every reported time, set-up included
  var checkNs = 0L
  val checkNsBy = mutable.LinkedHashMap.empty[String, Long]
}

/** Shared state of a run: the current session and tracer (set-up starts a
  * new session each time), the tally, the seed. */
final class Ctx(var spark: SparkSession, var tracer: Tracer, val tally: Tally,
                val seed: Long) {
  /** Count one operation; `ok = false` (a failed or incorrect operation)
    * counts against `ok_ops_frac`. */
  def record(ok: Boolean, what: => String): Unit = {
    tally.attempted += 1
    if (!ok) {
      tally.failed += 1
      if (tally.failures.size < 20) tally.failures += what
    }
  }
  /** Run a reference computation or an output check off the clock. */
  def offClock[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val d = System.nanoTime() - t0
      tally.checkNs += d
      tally.checkNsBy(label) = tally.checkNsBy.getOrElse(label, 0L) + d
    }
  }
  def rng(stream: Long): SplittableRandom = new SplittableRandom(seed * 1000003L + stream)

  /** Pinned reference values of this seed and workload (goldens.json). */
  var goldens: Map[String, String] = Map.empty
  /** A reference value must equal its pinned golden, where one is pinned. */
  def golden(key: String, value: String): Unit =
    goldens.get(key).foreach(g => record(g == value, s"$key: $value, golden $g"))
}

object Files2 {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally s.close()
  }
  /** Regular files under `p` (recursively), excluding hidden and `_`
    * metadata files — the data files of a parquet store. */
  def dataFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter { f =>
        Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }
      }.toSeq
      finally s.close()
    }
  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum
  /** Data files with their sizes, read now: a later write may delete them. */
  def sized(p: Path): Map[Path, Long] = dataFiles(p).map(f => f -> Files.size(f)).toMap
}

/** Order-independent digest of vector records: per document, the row
  * count and the exact sum of xxhash64(key, content, embedding, and the
  * canonical enrichers' summary and sentiment). */
object Digest {
  /** The hashed fields after the key. */
  private val Fields = Seq("content", "embedding", "summary", "sentiment")

  def rows(records: DataFrame): DataFrame =
    records.select(col("documentid"), col("key"), col("embedding"),
      xxhash64(col("key") +: Fields.map(col): _*).cast("decimal(38,0)").as("h"))

  def perDoc(records: DataFrame): Map[String, (Long, BigDecimal)] =
    rows(records).groupBy(col("documentid"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("h"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2))))
      .toMap

  /** [[perDoc]] of collected [[rows]]. */
  def perDoc(rows: Seq[org.apache.spark.sql.Row]): Map[String, (Long, BigDecimal)] =
    rows.groupBy(_.getString(0)).map { case (d, rs) =>
      d -> (rs.size.toLong, rs.map(r => BigDecimal(r.getDecimal(3))).sum)
    }

  /** One job: (rows, distinct keys, distinct documents, digest sum, and a
    * digest without the document id). A markdown file's document id hashes
    * its absolute path, so only the last is the same in every checkout. */
  def total(records: DataFrame): (Long, Long, Long, BigDecimal, BigDecimal) = {
    val r = records.agg(count(lit(1)), countDistinct(col("key")),
      countDistinct(col("documentid")),
      sum(xxhash64(col("key") +: Fields.map(col): _*).cast("decimal(38,0)")),
      sum(xxhash64(substring_index(col("key"), ":", -1) +: Fields.map(col): _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2), BigDecimal(r.getDecimal(3)),
      BigDecimal(r.getDecimal(4)))
  }
}

// ------------------------------------------------------------------ ingest

/** Bulk ingest: a directory of markdown files through
  * `IngestionPipeline.canonical.run` into a fresh store. */
final class IngestOp(ctx: Ctx, root: Path, nDocs: Int) {
  private def spark = ctx.spark
  val docsDir: Path = root.resolve("docs")
  private val stores = root.resolve("stores")
  var inputBytes = 0L
  var props: Map[String, Any] = Map.empty
  private var expectedRows = 0L
  private var expected = (0L, 0L, 0L, BigDecimal(0), BigDecimal(0))
  private var pass = 0
  val storeBytesPerInputByte = mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = {
    Files2.deleteTree(root)
    inputBytes = 0L
    val rng = ctx.rng(1)
    val prose = new Gen.Prose(Gen.vocabulary(20000), 1.0)
    val words = Gen.stratifiedWords(rng, nDocs, 450, 1.0, 40, 12000)
    words.zipWithIndex.foreach { case (n, i) =>
      inputBytes += Gen.write(docsDir.resolve(f"d$i%05d.md"), Gen.markdownDoc(rng, prose, n))
    }
    props = Map("docs" -> nDocs, "bytes" -> inputBytes) ++ Gen.lengthStats(words.toSeq)
  }

  def docs: DataFrame = DocumentSource.readDir(spark, docsDir.toString)

  /** Off the clock, once, after the first pass has warmed the pipeline:
    * the expected records via the same pipeline ending in a digest instead
    * of the store, and the chunker's row count from `observedChunks`. */
  private def reference(): Unit = if (expectedRows == 0) ctx.offClock("ingest.reference") {
    val (chunks, metrics) = IngestionPipeline.canonical.observedChunks(spark, docs)
    val records = VectorStoreWriter.toVectorRecords(chunks, 64,
      metadataCols = IngestionPipeline.metadataColumns(chunks))
    expected = Digest.total(records)
    expectedRows = metrics.rowCounts("chunker")
    props += ("chunks" -> expectedRows, "records_hash" -> expected._5.toString)
    ctx.golden("ingest_records_hash", expected._5.toString)
  }

  /** One timed ingest into a fresh store; returns seconds. Reading back a
    * 256-bucket store costs about as much as writing it, so every other
    * pass is checked: the first (the warm-up or the first probe) and each
    * odd one after it. Every pass counts as attempted. */
  def run(): Double = {
    pass += 1
    val store = stores.resolve(s"s$pass")
    Files2.deleteTree(stores)
    val t0 = System.nanoTime()
    ctx.tracer.span("ingest") {
      IngestionPipeline.canonical.run(spark, docs, store.toString)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    if (pass % 2 == 1) check(store) else ctx.record(ok = true, "")
    storeBytesPerInputByte += Files2.bytes(Files2.dataFiles(store)).toDouble / inputBytes
    secs
  }

  private def check(store: Path): Unit = ctx.offClock("ingest.check") {
    reference()
    // list the bucket directories in this process: above 32 paths Spark
    // lists them with a job of one task per directory
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(key, "100000")
    val got = try Digest.total(spark.read.parquet(store.toString))
              finally spark.conf.unset(key)
    val (rows, keys, docIds, _, _) = got
    val ok = rows == expectedRows && keys == rows && docIds == nDocs && got == expected
    ctx.record(ok, s"ingest: rows=$rows chunker=$expectedRows keys=$keys docs=$docIds/$nDocs")
  }

  def lastStore: Path = stores.resolve(s"s$pass")

  /** Traced run only: the prefix materializations to a `noop` sink that
    * give each fused per-row layer a self time. Runs after the full call. */
  def prefixes(): Map[String, Double] = {
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val p = IngestionPipeline.canonical
    val t = ctx.tracer
    t.span("prefix.reader")(noop(docs))
    t.span("prefix.chunker")(noop(p.chunker(spark, docs)))
    val (chunks, metrics) = p.observedChunks(spark, docs)
    t.span("prefix.enrich")(noop(chunks))
    t.span("prefix.embed")(noop(VectorStoreWriter.toVectorRecords(chunks, 64,
      metadataCols = IngestionPipeline.metadataColumns(chunks))))
    val rc = metrics.rowCounts
    Map("chunks_per_doc" -> rc("chunker").toDouble / rc("reader"),
      "files" -> docs.inputFiles.length.toDouble)
  }
}

// ------------------------------------------------------- upsert + search

/** A store kept fresh by the streaming writer while it is searched. */
final class UpsertOp(ctx: Ctx, root: Path, storeDocs: Int, deltaDocs: Int,
                     val queries: Int) {
  private def spark = ctx.spark
  private val inDir = root.resolve("in")
  private val staging = root.resolve("staging")
  val store: Path = root.resolve("store")
  private val ckpt = root.resolve("ckpt")
  private val prose = new Gen.Prose(Gen.vocabulary(20000), 1.0)
  private val vocab = Gen.vocabulary(20000)
  // doc id -> current text; ids in order of their last ingest (recency)
  private val texts = mutable.HashMap.empty[Long, String]
  private val recency = mutable.ArrayBuffer.empty[Long]
  private var nextId = 1L
  private var roundNo = 0
  private var expected: Map[String, (Long, BigDecimal)] = Map.empty
  private var seedExpected: Map[String, (Long, BigDecimal)] = Map.empty
  var props: Map[String, Any] = Map.empty
  var seedBytes = 0L
  var lastDeltaRecords = 0L
  var lastRunId: java.util.UUID = _
  private var reingestTotal = 0L
  private var deltaTotal = 0L

  private def newDoc(rng: SplittableRandom, words: Int): (Long, String) = {
    val id = nextId
    nextId += 1
    id -> Gen.markdownDoc(rng, prose, words)
  }

  private def remember(id: Long, text: String): Unit = {
    texts(id) = text
    recency -= id
    recency += id
  }

  /** Seed documents, as four JSONL files in the watched directory. Resets
    * every round's state: set-up may run more than once. */
  def generate(): Unit = {
    Files2.deleteTree(root)
    texts.clear(); recency.clear()
    nextId = 1L; roundNo = 0; seedBytes = 0L; reingestTotal = 0L; deltaTotal = 0L
    val rng = ctx.rng(2)
    val docs = Gen.stratifiedWords(rng, storeDocs, 250, 0.8, 30, 4000).toSeq.map(newDoc(rng, _))
    docs.grouped(math.max(1, storeDocs / 4)).zipWithIndex.foreach { case (part, i) =>
      seedBytes += Gen.write(inDir.resolve(f"seed-$i%02d.jsonl"),
        part.map { case (id, t) => Gen.jsonlDoc(id, t) }.mkString("", "\n", "\n"))
    }
    docs.foreach { case (id, t) => remember(id, t) }
    props = Map("store_docs" -> storeDocs, "seed_bytes" -> seedBytes,
      "delta_docs" -> deltaDocs, "queries_per_round" -> queries)
  }

  /** Start the graft streaming ingest over the watched directory and run it
    * until the AvailableNow trigger has drained it. */
  private def drainStream(): java.util.UUID = {
    val q = StreamingIngest.incrementalWriter(
      StreamingIngest.observedChunkStream(spark, inDir.toString),
      store.toString, ckpt.toString).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    q.runId
  }

  /** Set-up: the seed write, through the same streaming writer the deltas
    * use. The next round's check covers the seeded records too. */
  def seed(): Unit = {
    ctx.tracer.span("upsert.seed")(drainStream())
    if (seedExpected.isEmpty) ctx.offClock("upsert.seed_reference") {
      seedExpected = Digest.perDoc(reference(
        spark.read.schema(StreamingIngest.documentSchema).json(inDir.toString)))
      ctx.golden("upsert_seed_records_hash", seedHash)
    }
    props += ("seed_records_hash" -> seedHash)
    expected = seedExpected
  }

  private def seedHash: String = seedExpected.valuesIterator.map(_._2).sum.toString

  private def reference(docs: DataFrame): DataFrame = {
    val chunks = IngestionPipeline.canonical.chunks(spark, docs)
    VectorStoreWriter.toVectorRecords(chunks, 64,
      metadataCols = IngestionPipeline.metadataColumns(chunks))
  }

  /** The next delta, deterministic in (seed, round): ~80% re-ingested
    * documents with edited text, drawn with a geometric skew toward the
    * most recently ingested, and ~20% new documents. */
  private def nextDelta(): (Seq[(Long, String)], Int) = {
    val rng = ctx.rng(1000 + roundNo)
    val nNew = math.max(1, deltaDocs / 5)
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < deltaDocs - nNew) {
      var back = 0
      while (rng.nextInt(100) >= 3 && back < recency.size - 1) back += 1
      picked += recency(recency.size - 1 - back)
    }
    val edits = picked.toSeq.map { id =>
      val toks = texts(id).split(" ", -1)
      var k = 0
      while (k < math.max(1, toks.length / 10)) {
        val i = rng.nextInt(toks.length)
        if (toks(i).nonEmpty && toks(i).forall(_.isLetter)) toks(i) = vocab(rng.nextInt(2000))
        k += 1
      }
      id -> toks.mkString(" ")
    }
    (edits ++ Gen.stratifiedWords(rng, nNew, 250, 0.8, 30, 4000).toSeq.map(newDoc(rng, _)),
      edits.size)
  }

  /** One round: land a delta, run the stream to its commit, then make
    * `nQueries` searches. Returns (upsert seconds, per-query seconds). */
  def round(nQueries: Int = queries): (Double, Seq[Double]) = {
    roundNo += 1
    val (delta, reingested) = nextDelta()
    reingestTotal += reingested
    deltaTotal += delta.size
    val name = f"delta-$roundNo%05d.jsonl"
    Gen.write(staging.resolve(name),
      delta.map { case (id, t) => Gen.jsonlDoc(id, t) }.mkString("", "\n", "\n"))
    val t0 = System.nanoTime()
    val runId = ctx.tracer.span("upsert") {
      Files.move(staging.resolve(name), inDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      drainStream()
    }
    val upsertS = (System.nanoTime() - t0) / 1e9
    lastRunId = runId
    delta.foreach { case (id, t) => remember(id, t) }

    val rng = ctx.rng(500000 + roundNo)
    val qs = (0 until nQueries).map { _ =>
      val v = native.hashEmbed(prose.words(rng, 3 + rng.nextInt(5)), 64)
      val t1 = System.nanoTime()
      val keys = ctx.tracer.span("search") {
        Similarity.semanticSearch(spark.read.parquet(store.toString), v, 10)
          .select("key").collect().map(_.getString(0)).toSeq
      }
      ((System.nanoTime() - t1) / 1e9, v, keys)
    }
    // the first query is checked; the others count as completed
    check(inDir.resolve(name), qs.head._2, qs.head._3)
    qs.tail.foreach(_ => ctx.record(ok = true, ""))
    (upsertS, qs.map(_._1))
  }

  /** Off the clock: every document's records equal the reference records
    * of its current text (no stale, no missing), and one query's top-10
    * equals a brute-force scan of the collected store. */
  private def check(deltaFile: Path, v: Array[Float], keys: Seq[String]): Unit =
      ctx.offClock("upsert.check") {
    // one job: the whole store, and the reference records of the delta
    val both = Digest.rows(spark.read.parquet(store.toString)).withColumn("src", lit(0))
      .unionByName(Digest.rows(reference(spark.read.schema(StreamingIngest.documentSchema)
        .json(deltaFile.toString))).withColumn("src", lit(1)))
      .collect()
    val (rows, ref) = both.partition(_.getInt(4) == 0)
    val delta = Digest.perDoc(ref.toSeq)
    expected = expected ++ delta
    lastDeltaRecords = delta.valuesIterator.map(_._1).sum
    val got = Digest.perDoc(rows.toSeq)
    val stale = got.keySet.count(d => expected.get(d).exists(_ != got(d)))
    ctx.record(got == expected,
      s"upsert round $roundNo: ${got.size} docs stored, ${expected.size} expected, $stale differ")
    // cosine with graft's fold order (double accumulation, sqrt(na)*sqrt(nb))
    val brute = rows.map { r =>
      val e = r.getSeq[Float](2)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < math.min(e.length, v.length)) {
        val x = e(i).toDouble; val y = v(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      (if (d == 0.0) 0.0 else dot / d, r.getString(1))
    }.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(10).map(_._2).toSeq
    ctx.record(brute == keys, s"search round $roundNo: top-10 differs from brute force")
  }

  def storeRecordBytes: Double = {
    val files = Files2.dataFiles(store)
    Files2.bytes(files).toDouble / math.max(1L, expected.valuesIterator.map(_._1).sum)
  }

  def deltaProps: Map[String, Any] = Map(
    "rounds" -> roundNo,
    "reingest_share" -> (if (deltaTotal == 0) 0.0 else reingestTotal.toDouble / deltaTotal))
}

// ------------------------------------------------------------------- dedup

/** Near-duplicate removal: `ngramJaccardPairs` (t = 0.8, df-cut 1000) then
  * `dedupByPairs` over a plain-text JSONL corpus. */
final class DedupOp(ctx: Ctx, root: Path, nDocs: Int) {
  private def spark = ctx.spark
  val Threshold = 0.8
  val DfCut = 1000
  private val path = root.resolve("corpus.jsonl")
  private var texts: Map[Long, String] = Map.empty
  private var injected: Seq[(Long, Long)] = Nil
  private var expectedSurvivors: Set[Long] = Set.empty
  private var expectedPairs: Set[(Long, Long)] = Set.empty
  var candidatePairs = 0L
  var pairsOut = 0L
  var props: Map[String, Any] = Map.empty

  /** Base documents plus injected near-duplicate clusters: every fifth
    * base gets 1, 2 or 3 variants (in turn), each re-drawing a share of the
    * base's words at a rate aimed just above the threshold (1.5-3%) or just
    * below it (4.5-7%), alternately. The cluster plan and the length
    * distribution are the same for every seed. The vocabulary is
    * Zipf-skewed, so common shingles put many unrelated documents into one
    * candidate bucket. */
  def generate(): Unit = {
    Files2.deleteTree(root)
    val rng = ctx.rng(3)
    val prose = new Gen.Prose(Gen.vocabulary(20000), 1.0)
    // variants per base, until the corpus has nDocs documents
    val plan = mutable.ArrayBuffer.empty[Int]
    var planned = 0
    while (planned < nDocs) {
      val i = plan.size
      val k = math.min(if (i % 5 == 0) 1 + (i / 5) % 3 else 0, nDocs - planned - 1)
      plan += k
      planned += 1 + k
    }
    val lengths = Gen.stratifiedWords(rng, plan.size, 120, 0.5, 40, 600)
    val docs = mutable.ArrayBuffer.empty[Array[String]]
    val clusters = mutable.ArrayBuffer.empty[Seq[Int]]
    var variant = 0
    plan.zip(lengths).foreach { case (k, n) =>
      val base = prose.words(rng, n).split(" ")
      val members = mutable.ArrayBuffer(docs.size)
      docs += base
      for (_ <- 0 until k) {
        val rate = if (variant % 2 == 0) 0.015 + 0.015 * rng.nextDouble()
                   else 0.045 + 0.025 * rng.nextDouble()
        variant += 1
        members += docs.size
        docs += Gen.mutate(rng, prose, base, rate)
      }
      if (k > 0) clusters += members.toSeq
    }
    // ids: a seeded permutation, so cluster members are not neighbours
    val ids = {
      val a = Array.tabulate(nDocs)(i => i + 1L)
      var i = a.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    texts = docs.indices.map(i => ids(i) -> docs(i).mkString(" ")).toMap
    injected = clusters.toSeq.flatMap { m =>
      for (i <- m; j <- m if i < j) yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))
    }
    val bytes = Gen.write(path, docs.indices.map(i => Gen.jsonlDoc(ids(i),
      texts(ids(i)))).mkString("", "\n", "\n"))
    props = Map("docs" -> nDocs, "bytes" -> bytes,
      "near_dup_share" -> clusters.map(_.size - 1).sum.toDouble / nDocs,
      "injected_pairs" -> injected.size)
  }

  def docs: DataFrame = DocumentSource.readJsonl(spark, path.toString,
    idField = Some("doc_id"), schema = Some(StreamingIngest.documentSchema))

  /** Off the clock, in this process, by brute force over the candidate
    * buckets: the candidate volume Σ C(df,2) over shingles with
    * 2 ≤ df ≤ cut (shingles from `native.shingleHashes`, the kernel behind
    * `TextFunctions.shingleHashes`), the exact pairs with Jaccard ≥ t under
    * the operator's df-cut rule, and the survivors they imply. Injected
    * pairs are classified above or below t by the same rule. */
  private def reference(): Unit = if (expectedSurvivors.isEmpty) ctx.offClock("dedup.reference") {
    val sh = texts.map { case (id, t) => id -> native.shingleHashes(t, 3).distinct }
    val postings = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Long]]
    sh.foreach { case (id, ss) => ss.foreach(s => postings.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += id) }
    val inter = mutable.HashMap.empty[(Long, Long), Int]
    candidatePairs = 0L
    postings.valuesIterator.filter(p => p.size >= 2 && p.size <= DfCut).foreach { p =>
      candidatePairs += p.size.toLong * (p.size - 1) / 2
      val ids = p.sorted
      for (i <- ids.indices; j <- i + 1 until ids.size)
        inter((ids(i), ids(j))) = inter.getOrElse((ids(i), ids(j)), 0) + 1
    }
    def passes(a: Long, b: Long): Boolean = {
      val n = inter.getOrElse((a, b), 0).toLong
      n * 10000 >= math.round(Threshold * 10000) * (sh(a).length + sh(b).length - n)
    }
    expectedPairs = inter.keysIterator.filter { case (a, b) => passes(a, b) }.toSet
    pairsOut = expectedPairs.size
    val (above, below) = injected.partition { case (a, b) => passes(a, b) }
    // union-find over the pairs: each component keeps its min id
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    expectedPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    expectedSurvivors = texts.keySet.filter(id => find(id) == id)
    props += ("candidate_pairs" -> candidatePairs, "pairs_out" -> pairsOut,
      "injected_above" -> above.size, "injected_below" -> below.size,
      "survivors" -> expectedSurvivors.size, "survivors_hash" -> survivorsHash(expectedSurvivors))
    ctx.golden("dedup_survivors_hash", survivorsHash(expectedSurvivors))
  }

  def survivorsHash(ids: Set[Long]): String =
    ids.toSeq.sorted.foldLeft(1125899906842597L)((h, x) => 31 * h + x).toHexString

  /** One timed dedup; returns seconds. */
  def run(): Double = {
    reference()
    val t0 = System.nanoTime()
    // the traced run pins the pairs, to time the two operators apart and
    // to check the pair set itself
    var pinned: Option[DataFrame] = None
    val survivors = ctx.tracer.span("dedup") {
      val pairs =
        if (ctx.tracer.active) {
          val p = ctx.tracer.span("dedup.pairs") {
            Dedup.ngramJaccardPairs(docs, 3, Threshold, DfCut).localCheckpoint(true)
          }
          pinned = Some(p)
          p
        } else Dedup.ngramJaccardPairs(docs, 3, Threshold, DfCut)
      ctx.tracer.span("dedup.cc") {
        Dedup.dedupByPairs(docs, pairs).select("doc_id").collect().map(_.getLong(0)).toSet
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    ctx.offClock("dedup.check") {
      val pairs = pinned.map(_.select("a", "b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
      ctx.record(survivors == expectedSurvivors && pairs.forall(_ == expectedPairs),
        s"dedup: ${survivors.size} survivors, ${expectedSurvivors.size} expected; " +
          pairs.fold("")(p => s"${p.size} pairs, ${expectedPairs.size} expected"))
    }
    secs
  }
}
