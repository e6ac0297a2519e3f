package graft

import graft.operators.Processors
import graft.pipeline.IngestionPipeline
import graft.sinks.VectorStoreWriter
import graft.streaming.StreamingIngest
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import java.nio.file.{Files, Paths}

/** Pipeline composition + vector-store writer, mirroring the reference's
  * IngestionPipelineTests: reader → processors → chunker → enrichers →
  * writer, incremental re-ingestion replaces a document's records.
  */
class PipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "# Title\n\ngood content here\n\n## Sub\n\nmore good text"),
    (2L, "plain document with bad and broken words")
  ).toDF("doc_id", "text")

  private def recs(rows: (Long, Int, String, String)*) =
    VectorStoreWriter.toVectorRecords(
      rows.toSeq.toDF("doc_id", "chunk_id", "content", "context"), 16)

  /** Pin a store's bucket count before its first write, as a store
    * created with that layout would have it. */
  private def pinLayout(dir: String, buckets: Int): Unit = {
    Files.writeString(Paths.get(dir, VectorStoreWriter.LayoutFile),
      s"""{"numBuckets":$buckets}""")
    ()
  }

  private def layoutOf(dir: String): String =
    Files.readString(Paths.get(dir, VectorStoreWriter.LayoutFile))

  private def contentsOf(dir: String): Map[String, String] =
    spark.read.parquet(dir)
      .select("documentid", "content").as[(String, String)].collect().toMap

  test("canonical pipeline: chunks carry summary + sentiment") {
    val out = IngestionPipeline.canonical.chunks(spark, docs)
    val rows = out.orderBy("doc_id", "chunk_id").collect()
    assert(rows.nonEmpty)
    assert(out.columns.contains("summary") && out.columns.contains("sentiment"))
    val d2 = rows.filter(_.getAs[Long]("doc_id") == 2L)
    assert(d2.forall(_.getAs[String]("sentiment") == "Negative"))
  }

  test("document processors run before the chunker") {
    val p = IngestionPipeline()
      .withDocumentProcessor(df => df.where(col("doc_id") === 1L))
    val rows = p.chunks(spark, docs).select("doc_id").as[Long].collect()
    assert(rows.nonEmpty && rows.forall(_ == 1L))
  }

  test("toVectorRecords: schema, deterministic keys, unit-norm embeddings") {
    val chunks = Seq((1L, 0, "hello world", "ctx")).toDF("doc_id", "chunk_id", "content", "context")
    val rec = VectorStoreWriter.toVectorRecords(chunks, dim = 16).head()
    assert(rec.getAs[String]("key") == "1:0")
    assert(rec.getAs[String]("documentid") == "1")
    val emb = rec.getSeq[Float](rec.fieldIndex("embedding"))
    assert(emb.length == 16)
    assert(math.abs(emb.map(v => v.toDouble * v).sum - 1.0) < 1e-6)
  }

  test("toVectorRecords carries enricher metadata columns through") {
    val chunks = Seq((1L, 0, "good text", "ctx", "a summary", "Positive"))
      .toDF("doc_id", "chunk_id", "content", "context", "summary", "sentiment")
    val rec = VectorStoreWriter.toVectorRecords(chunks, dim = 16,
      metadataCols = Seq("summary", "sentiment")).head()
    assert(rec.getAs[String]("summary") == "a summary")
    assert(rec.getAs[String]("sentiment") == "Positive")
  }

  test("document quality/language gates filter before chunking") {
    val docs = Seq(
      (1L, (1 to 30).map(_ => "the good and of words").mkString(" ")),
      (2L, "@@@@ ####"),
      (3L, "der die das und ist nicht ein zu ".repeat(10))
    ).toDF("doc_id", "text")
    val q = Processors.filterByQuality(docs, minScore = 60).select("doc_id").as[Long].collect()
    assert(q.contains(1L) && !q.contains(2L))
    val en = Processors.filterByLanguage(docs, Seq("en")).select("doc_id").as[Long].collect()
    assert(en.toSeq == Seq(1L))
  }

  test("incremental write: re-ingesting a document replaces its records") {
    val dir = Files.createTempDirectory("graft-vsw").toString
    val batch1 = Seq((1L, 0, "v1 content", ""), (2L, 0, "other doc", ""))
      .toDF("doc_id", "chunk_id", "content", "context")
    VectorStoreWriter.write(VectorStoreWriter.toVectorRecords(batch1, 16), dir)
    // re-ingest doc 1 with different content (same bucket → replaced;
    // doc 2 lives in a different bucket → untouched)
    val batch2 = Seq((1L, 0, "v2 content", ""))
      .toDF("doc_id", "chunk_id", "content", "context")
    VectorStoreWriter.write(VectorStoreWriter.toVectorRecords(batch2, 16), dir)
    val after = spark.read.parquet(dir)
    val contents = after.select("documentid", "content").as[(String, String)].collect().toMap
    assert(contents("1") == "v2 content")
    assert(contents("2") == "other doc")
  }

  test("incremental write preserves other docs in the SAME bucket (regression)") {
    val dir = Files.createTempDirectory("graft-vsw-bucket").toString
    // a one-bucket layout forces every document into one bucket
    pinLayout(dir, 1)
    VectorStoreWriter.write(recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", "")), dir)
    VectorStoreWriter.write(recs((1L, 0, "doc one v2", "")), dir)
    val contents = contentsOf(dir)
    assert(contents("1") == "doc one v2")
    assert(contents("2") == "doc two") // survived the shared-bucket rewrite
  }

  test("layout: bucket count chosen at creation, persisted, and honored by appends") {
    val dir = Files.createTempDirectory("graft-vsw-layout").toString
    // the sizing policy itself: floor, target-row scaling, power of 2, cap
    assert(VectorStoreWriter.chooseNumBuckets(0L) == VectorStoreWriter.MinBuckets)
    assert(VectorStoreWriter.chooseNumBuckets(1000L) == VectorStoreWriter.MinBuckets)
    assert(VectorStoreWriter.chooseNumBuckets(
      VectorStoreWriter.TargetRowsPerBucket * 20) == 32) // 20 → next pow2
    assert(VectorStoreWriter.chooseNumBuckets(Long.MaxValue / 4)
      == VectorStoreWriter.MaxBuckets)
    // seed write records the layout...
    VectorStoreWriter.write(
      recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", "")), dir)
    assert(layoutOf(dir) == s"""{"numBuckets":${VectorStoreWriter.MinBuckets}}""")
    // ...and the replace-by-documentid contract holds across later
    // writes (same modulus → the old records are found and replaced)
    VectorStoreWriter.write(recs((1L, 0, "doc one v2", "")), dir)
    assert(contentsOf(dir) == Map("1" -> "doc one v2", "2" -> "doc two"))
    // bucket-directory cardinality is the recorded layout's
    val bucketDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("doc_bucket="))
    assert(bucketDirs.length <= VectorStoreWriter.MinBuckets)
  }

  test("incremental write: a mid-write failure leaves the store intact (crash safety)") {
    // the reference deletes stale keys only AFTER inserting new chunks
    // (VectorStoreWriter.cs:70-80) to avoid a delete-then-fail window;
    // graft's copy-on-write union must be at least as safe: a batch
    // that fails during evaluation (poison row) must not clobber any
    // bucket, because dynamic partition overwrite only swaps files at
    // job commit and survivors are localCheckpointed before the write
    val dir = Files.createTempDirectory("graft-vsw-crash").toString
    pinLayout(dir, 1)
    VectorStoreWriter.write(recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", "")), dir)
    val poison = recs((1L, 0, "doc one v2", ""))
      .withColumn("content",
        when(col("key") === "1:0", raise_error(lit("simulated mid-write crash")))
          .otherwise(col("content")))
    intercept[Exception] {
      VectorStoreWriter.write(poison, dir)
    }
    assert(contentsOf(dir) == Map("1" -> "doc one v1", "2" -> "doc two"))
  }

  test("legacy store without a layout file: the first write pins 256 buckets") {
    // the former writer: a fixed 256 buckets, no _layout.json
    val dir = Files.createTempDirectory("graft-vsw-legacy").toString
    recs((1L, 0, "doc one v1", ""), (2L, 0, "doc two", ""), (3L, 0, "doc three v1", ""))
      .withColumn("doc_bucket", pmod(xxhash64(col("documentid")), lit(256)))
      .write.mode("overwrite").partitionBy("doc_bucket").parquet(dir)
    VectorStoreWriter.write(recs((1L, 0, "doc one v2", ""), (3L, 0, "doc three v2", "")), dir)
    assert(layoutOf(dir) == """{"numBuckets":256}""")
    assert(spark.read.parquet(dir).count() == 3) // no stale revision left behind
    assert(contentsOf(dir) ==
      Map("1" -> "doc one v2", "2" -> "doc two", "3" -> "doc three v2"))
  }

  test("store without a layout file and a bucket id past 256 fails loudly") {
    val dir = Files.createTempDirectory("graft-vsw-unknown").toString
    recs((1L, 0, "doc one v1", "")).withColumn("doc_bucket", lit(300))
      .write.mode("overwrite").partitionBy("doc_bucket").parquet(dir)
    val e = intercept[IllegalStateException] {
      VectorStoreWriter.write(recs((1L, 0, "doc one v2", "")), dir)
    }
    assert(e.getMessage.contains("doc_bucket=300"))
    assert(!Files.exists(Paths.get(dir, VectorStoreWriter.LayoutFile)))
    assert(contentsOf(dir) == Map("1" -> "doc one v1"))
  }

  test("fresh-store write evaluates its input once") {
    // a filter, so the layout's record count cannot prune it away
    val evaluated = spark.sparkContext.longAccumulator("vsw-input-rows")
    val seen = udf { (_: String) => evaluated.add(1); true }
    val input = recs((1L, 0, "a", ""), (2L, 0, "b", ""), (3L, 0, "c", ""), (3L, 1, "d", ""))
      .where(seen(col("key")))
    val dir = Files.createTempDirectory("graft-vsw-once").toString
    VectorStoreWriter.write(input, dir)
    assert(evaluated.value == 4)
    assert(spark.read.parquet(dir).count() == 4)
    assert(input.storageLevel == StorageLevel.NONE) // the writer's cache is released
    // an input the caller persisted stays cached
    val pinned = recs((4L, 0, "e", "")).persist(StorageLevel.MEMORY_ONLY)
    try {
      VectorStoreWriter.write(pinned, Files.createTempDirectory("graft-vsw-pinned").toString)
      assert(pinned.storageLevel == StorageLevel.MEMORY_ONLY)
    } finally pinned.unpersist()
  }

  test("bulk run, then streaming upsert: revised documents replace their records") {
    val root = Files.createTempDirectory("graft-run-then-stream")
    val store = root.resolve("store").toString
    val in = Files.createDirectory(root.resolve("in"))
    def text(id: Long, rev: String) =
      (1 to 40).map(w => s"word${(id * 7 + w) % 97}").mkString(s"doc $id ", " ", s" $rev")
    def docsOf(texts: Seq[(Long, String)]) =
      texts.map { case (id, t) => (id, t, "en", "t") }.toDF("doc_id", "text", "lang", "source")
    val v1 = (1L to 200L).map(id => id -> text(id, "first"))
    IngestionPipeline.canonical.run(spark, docsOf(v1), store, dim = 16)
    val revised = (1L to 20L).map(id => id -> text(id, "second revision"))
    Files.writeString(in.resolve("revised.json"), revised.map { case (id, t) =>
      s"""{"doc_id":$id,"text":"$t","lang":"en","source":"t"}""" }.mkString("\n"))
    StreamingIngest.incrementalWriter(StreamingIngest.chunkStream(spark, in.toString),
      store, root.resolve("ckpt").toString, dim = 16).start().awaitTermination()
    val current = (v1.toMap ++ revised).toSeq
    val chunks = IngestionPipeline.canonical.chunks(spark, docsOf(current))
    val expected = VectorStoreWriter.toVectorRecords(chunks, 16,
        metadataCols = IngestionPipeline.metadataColumns(chunks))
      .select("key", "content").as[(String, String)].collect().sorted.toSeq
    val got = spark.read.parquet(store)
      .select("key", "content").as[(String, String)].collect().sorted.toSeq
    assert(got.size == expected.size)
    assert(got == expected)
  }

  test("runWith: custom terminal writer receives the composed chunk plan (reference QAWriter shape)") {
    val dir = Files.createTempDirectory("graft-custom-writer").toString
    // a QAWriter-style custom sink: derive new records per chunk (here a
    // deterministic "question" per chunk) and write its own collection
    IngestionPipeline.canonical.runWith(spark, docs, { chunked =>
      chunked.select(
        col("doc_id"), col("chunk_id"),
        concat(lit("What is '"), substring(col("content"), 1, 12), lit("' about?")).as("question"),
        col("summary")
      ).write.mode("overwrite").parquet(dir)
    })
    val got = spark.read.parquet(dir)
    assert(got.count() > 0)
    assert(got.columns.toSet == Set("doc_id", "chunk_id", "question", "summary"))
    assert(got.where(col("question").startsWith("What is '")).count() == got.count())
  }

  test("pipeline run carries enricher metadata into the store") {
    val dir = Files.createTempDirectory("graft-e2e-meta").toString
    IngestionPipeline.canonical.run(spark, docs, dir, dim = 16)
    val out = spark.read.parquet(dir)
    assert(out.columns.contains("summary") && out.columns.contains("sentiment"))
  }

  test("pipeline run end-to-end writes vector records") {
    val dir = Files.createTempDirectory("graft-e2e").toString
    IngestionPipeline.canonical.run(spark, docs, dir, dim = 16)
    val out = spark.read.parquet(dir)
    assert(out.count() > 0)
    assert(out.columns.toSet.contains("embedding"))
  }

  // ------------------------------------------------- observability
  test("observedChunks reports exact per-stage row counts with zero extra jobs") {
    val three = Seq(
      (1L, "alpha beta gamma"),
      (2L, ""), // dropped by the document processor
      (3L, (1 to 120).map(i => s"w$i").mkString(" ")) // 2 chunks at maxTokens=64
    ).toDF("doc_id", "text")
    val pipeline = IngestionPipeline()
      .withDocumentProcessor(df => df.where(length(col("text")) > 0))
      .withChunker((s, d) => graft.operators.Chunkers.headerChunks(s, d,
        graft.operators.ChunkerOptions(maxTokens = 64, overlap = 0)).toDF())
      .withChunkProcessor(df => Processors.withSummary(df))
    val (out, metrics) = pipeline.observedChunks(spark, three)
    out.write.format("noop").mode("overwrite").save() // ONE terminal action
    val counts = metrics.rowCounts
    assert(counts("reader") == 3)
    assert(counts("documentProcessor[0]") == 2)
    assert(counts("chunker") == 3) // doc1 → 1 chunk, doc3 → 2 chunks
    assert(counts("chunkProcessor[0]") == 3)
  }

  test("runObserved returns metrics materialized by the writer's action") {
    val dir = Files.createTempDirectory("graft-observed").toString
    val metrics = IngestionPipeline.canonical.runObserved(spark, docs,
      _.write.mode("overwrite").parquet(dir))
    val counts = metrics.rowCounts
    assert(counts("reader") == 2)
    assert(counts("chunker") >= 2)
    assert(counts("chunkProcessor[0]") == counts("chunker")) // enrichers are 1:1
    assert(counts("chunkProcessor[1]") == counts("chunker"))
    assert(spark.read.parquet(dir).count() == counts("chunkProcessor[1]"))
  }

  // --------------------------------------------- writer options
  test("VectorStoreWriterOptions: collection sub-path, validation, incremental knob") {
    import graft.sinks.VectorStoreWriterOptions
    val root = Files.createTempDirectory("graft-collections").toString
    val records = VectorStoreWriter.toVectorRecords(
      IngestionPipeline.canonical.chunks(spark, docs), dim = 16)
    VectorStoreWriter.write(records, root, VectorStoreWriterOptions()) // default "chunks"
    VectorStoreWriter.write(records, root,
      VectorStoreWriterOptions(collectionName = "faq", incrementalIngestion = false))
    assert(spark.read.parquet(s"$root/chunks").count() == records.count())
    assert(spark.read.parquet(s"$root/faq").count() == records.count())
    // reference VectorStoreWriterOptions.cs:18 throws on empty name
    intercept[IllegalArgumentException](VectorStoreWriterOptions(collectionName = ""))
    intercept[IllegalArgumentException](VectorStoreWriterOptions(distanceFunction = "hamming"))
    // incremental re-ingest into a named collection replaces records
    val v2 = records.withColumn("content", lit("v2"))
    VectorStoreWriter.write(v2, root, VectorStoreWriterOptions(collectionName = "faq"))
    val faq = spark.read.parquet(s"$root/faq")
    assert(faq.count() == records.count())
    assert(faq.where(col("content") === "v2").count() == records.count())
  }

  test("distanceFunction drives search scoring (cosine / dot / euclidean)") {
    import graft.operators.Similarity
    val records = Seq(
      ("1:0", Array(1.0f, 0.0f), "a", "", "1"),
      ("2:0", Array(10.0f, 0.0f), "b", "", "2"),
      ("3:0", Array(0.0f, 1.0f), "c", "", "3")
    ).toDF("key", "embedding", "content", "context", "documentid")
    val q = Array(1.0f, 0.0f)
    def top(fn: String) =
      Similarity.semanticSearch(records, q, k = 3, distanceFunction = fn)
        .select("key").as[String].collect().toSeq
    // cosine: direction only → 1:0 and 2:0 tie at 1.0 (key tiebreak)
    assert(top(VectorStoreWriter.Cosine).take(2) == Seq("1:0", "2:0"))
    // dot: magnitude wins → 2:0 first
    assert(top(VectorStoreWriter.Dot).head == "2:0")
    // euclidean (higher-is-closer orientation): exact match wins
    assert(top(VectorStoreWriter.Euclidean).head == "1:0")
    intercept[IllegalArgumentException](
      VectorStoreWriter.distance("hamming", col("embedding"), col("embedding")))
  }
}
