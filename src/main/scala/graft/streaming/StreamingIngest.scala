package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.embed.{Embedder, HashingEmbedder}
import graft.index.VectorIndex
import graft.ingest.DocxReader
import graft.ops.{Checkpointing, ChunkText}

/** ST1 — streaming ingestion. The reference ingests per HTTP request
  * (`scripts/app.py:17-45`): each uploaded document is parsed → chunked →
  * embedded → upserted, independently. The Spark-native form is a file
  * source + `foreachBatch` running the identical batch pipeline — ingest
  * stays idempotent per file (mirroring the reference's per-file output)
  * and every micro-batch is the same code path as batch ingest, so there
  * is exactly one pipeline to test.
  *
  * Scale: the landing directory is listed incrementally (file-source
  * checkpointing); each batch parallelizes across executors; the index
  * write is an append-mode distributed parquet write (replacing the
  * reference's per-paragraph upsert RPC, `qdrant_service.py:26-28`).
  */
object StreamingIngest {

  /** The batch pipeline shared by streaming and batch ingest:
    * documents `(doc_id, text)` → 700/200 chunks → embeddings →
    * unit-normalized vector rows `(id, doc_id, chunk_idx, chunk_text,
    * embedding)`. */
  def ingestBatch(
      docs: DataFrame,
      embedder: Embedder = HashingEmbedder(),
      chunkSize: Int = ChunkText.DefaultChunkSize,
      overlap: Int = ChunkText.DefaultOverlap): DataFrame = {
    val chunked = ChunkText.explodeChunks(docs, "text", chunkSize, overlap)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val embedded = Embedder.embedColumn(chunked, "chunk_text", embedder)
    VectorIndex.withNormalized(embedded)
      .withColumn("id",
        graft.ops.Functions.contentId(col("doc_id"), col("chunk_idx"), col("chunk_text")))
      .select("id", "doc_id", "chunk_idx", "chunk_text", "embedding")
  }

  /** Start a streaming ingest: every text file landing in `landingDir`
    * becomes a document (one per file), flows through [[ingestBatch]],
    * and appends to the parquet vector index at `indexDir`. */
  def start(
      spark: SparkSession,
      landingDir: String,
      indexDir: String,
      checkpointDir: String,
      embedder: Embedder = HashingEmbedder()): StreamingQuery = {
    val files = spark.readStream
      .format("text")
      .option("wholetext", "true")
      .load(landingDir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("doc_id"),
        col("value").as("text"))
    files.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, embedder)
          .write.mode("append").parquet(indexDir)
      }
      .start()
  }

  /** Incremental dedup ingest: like [[start]], but each micro-batch is
    * exact-deduplicated *within the batch* (first doc per content hash
    * wins) and *against everything already ingested* — a left-anti
    * join on `content_hash` against the persistent corpus — before the
    * survivors append to both the corpus (`corpusDir`: doc_id,
    * content_hash, text) and the vector index (`indexDir`, via
    * [[ingestBatch]]). Re-landing an old file, or the same content
    * under a new name, is a no-op — the idempotence a 100 TB
    * continuously-fed corpus needs, without which every re-delivery
    * inflates the training set.
    *
    * Scale: the anti-join shuffles 16-byte hashes, never text; the
    * corpus side prunes to its `content_hash` column (parquet column
    * pruning). State lives in the corpus parquet itself — no growing
    * stream-state store.
    *
    * Crash safety (exactly-once): both outputs land in
    * `batch_id=<id>` subdirectories written with OVERWRITE, so a batch
    * that crashed between the corpus and index writes is simply
    * rewritten on retry; and the dedup memory EXCLUDES the current
    * batch's own subdirectory, so the retry does not see its first
    * attempt's rows and drop the batch. Corpus, index and checkpoint
    * form one unit — restart with the same checkpoint. */
  def startDeduped(
      spark: SparkSession,
      landingDir: String,
      corpusDir: String,
      indexDir: String,
      checkpointDir: String,
      embedder: Embedder = HashingEmbedder()): StreamingQuery = {
    val files = spark.readStream
      .format("text")
      .option("wholetext", "true")
      .load(landingDir)
      .select(
        regexp_extract(input_file_name(), "([^/]+)$", 1).as("doc_id"),
        col("value").as("text"))
    files.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val inBatch = graft.ops.Dedup.exact(batch)
          .filter(!col("is_dup")).drop("is_dup")
        val memory =
          try Some(s.read.parquet(corpusDir)
            .filter(col("batch_id") =!= batchId) // not a crashed attempt of us
            .select("content_hash").distinct())
          catch { case _: org.apache.spark.sql.AnalysisException => None }
        // truncated eagerly, BEFORE the corpus write: a recompute of the
        // anti-join against the corpus it just grew would see this
        // batch as already ingested and silently drop it; a lost
        // truncated block fails loudly instead
        val fresh = Checkpointing.truncate(
          memory.fold(inBatch)(m => inBatch.join(m, Seq("content_hash"), "left_anti")),
          None)
        fresh.select("doc_id", "content_hash", "text")
          .write.mode("overwrite").parquet(s"$corpusDir/batch_id=$batchId")
        ingestBatch(fresh.select("doc_id", "text"), embedder)
          .write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
      }
      .start()
  }

  /** S5's actual shape: `.docx` files landing in `landingDir` (the
    * reference's upload endpoint gates on the extension, `app.py:17-29`)
    * are parsed with [[DocxReader.parseBytes]], sectionized, chunked,
    * embedded, and appended to the vector index — the full `Extract
    * .ingest` pipeline per micro-batch. `binaryFile` is the streaming
    * source, so each file is one task and parallelism comes from the
    * corpus (a DOCX zip is unsplittable). */
  def startDocx(
      spark: SparkSession,
      landingDir: String,
      indexDir: String,
      checkpointDir: String,
      embedder: Embedder = HashingEmbedder(),
      version: String = "1"): StreamingQuery = {
    val files = spark.readStream
      .format("binaryFile")
      .option("pathGlobFilter", "*.docx") // the app.py extension gate
      // streaming sources require the schema up front (no inference)
      .schema("path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
      .load(landingDir)
      .select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("doc_id"),
        col("content"))
    files.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        val blocks = batch.as[(String, Array[Byte])]
          .flatMap { case (name, bytes) => DocxReader.parseBytesLenient(name, bytes) }
          .toDF()
        graft.pipeline.Extract.ingest(blocks, version, embedder)
          .write.mode("append").parquet(indexDir)
      }
      .start()
  }

  /** CDC-style streaming upsert: JSON-lines change records landing in
    * `landingDir` are MERGEd into the [[graft.pipeline.MergeTable]] at
    * `tableDir` per micro-batch — updates replace, new keys insert, and
    * rows with `deleteCol` true delete, so the table converges to the
    * latest state of every key instead of appending history.
    *
    * Intra-batch conflicts (two files changing one key in the same
    * batch) are resolved by `versionCol` when given — highest version
    * wins, deterministically (ties broken by the delete flag so a
    * delete+reinsert at the same version cannot flap); without a
    * `versionCol` the merge VALIDATES uniqueness and fails loudly
    * rather than guessing an order.
    *
    * Crash safety: a retried batch re-merges the same change set onto a
    * table that already absorbed it — upserts are idempotent BY VALUE
    * (same keys → same rows), so the extra version is content-identical
    * and readers never observe a duplicate or a lost delete
    * (`StreamingSpec` proves it). Old versions are reclaimable with
    * [[graft.pipeline.MergeTable.vacuum]].
    *
    * Expectations (the DLT expect-or-quarantine pattern at the CDC
    * gate): when `expectations` row rules are declared, every change
    * record is checked BEFORE it can touch the table — violating
    * records (NULL violates, per [[graft.ops.Expectations]]) divert to
    * `quarantineDir/batch_id=N` parquet with a `violated` array naming
    * each failed rule, and only clean records merge. A bad upstream
    * deploy poisons the quarantine, not the corpus — and nothing is
    * dropped silently, which is why `quarantineDir` is REQUIRED with
    * rules. Delete records gate too: a delete whose record is malformed
    * is a corrupt instruction, not a pass. Quarantine writes overwrite
    * their batch directory, so a retried batch is idempotent. */
  def startMergeUpsert(
      spark: SparkSession,
      landingDir: String,
      tableDir: String,
      keyCol: String,
      schema: org.apache.spark.sql.types.StructType,
      checkpointDir: String,
      deleteCol: Option[String] = None,
      versionCol: Option[String] = None,
      expectations: Seq[graft.ops.Expectations.RowRule] = Nil,
      quarantineDir: Option[String] = None): StreamingQuery = {
    require(expectations.isEmpty || quarantineDir.nonEmpty,
      "expectations need a quarantineDir — violations are never dropped silently")
    val changes = spark.readStream.schema(schema).json(landingDir)
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val clean = gateBatch(batch, batchId, expectations, quarantineDir)
        upsertBatch(clean, tableDir, keyCol, deleteCol, versionCol)
        ()
      }
      .start()
  }

  /** Split one micro-batch on `expectations`: violating rows land in
    * `quarantineDir/batch_id=N` (overwrite — retry-idempotent) with
    * their `violated` rule names; the clean remainder is returned.
    * No rules → the batch passes through untouched. */
  private def gateBatch(
      batch: DataFrame, batchId: Long,
      expectations: Seq[graft.ops.Expectations.RowRule],
      quarantineDir: Option[String]): DataFrame =
    if (expectations.isEmpty) batch
    else {
      val (valid, bad) = graft.ops.Expectations.quarantine(batch, expectations)
      bad.write.mode("overwrite")
        .parquet(s"${quarantineDir.get}/batch_id=$batchId")
      valid
    }

  /** One micro-batch of CDC upsert: resolve intra-batch conflicts per
    * [[startMergeUpsert]]'s contract, merge into the table, and return
    * the committed version (None for an empty batch). */
  private def upsertBatch(
      batch: DataFrame, tableDir: String, keyCol: String,
      deleteCol: Option[String], versionCol: Option[String]): Option[Int] = {
    val resolved = versionCol match {
      case Some(vc) =>
        val order = deleteCol match {
          case Some(dc) => Seq(col(vc).desc, col(dc).desc)
          case None => Seq(col(vc).desc)
        }
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(keyCol).orderBy(order: _*)
        batch.withColumn("__graft_rn", row_number().over(w))
          .filter(col("__graft_rn") === 1).drop("__graft_rn")
      case None => batch
    }
    if (resolved.isEmpty) None
    else Some(graft.pipeline.MergeTable.merge(
      batch.sparkSession, tableDir, resolved, keyCol,
      deleteCol = deleteCol, validate = versionCol.isEmpty))
  }

  /** [[startMergeUpsert]] composed with continuous maintenance of
    * standing derived artifacts ([[Maintained]]): after each
    * micro-batch's merge commits corpus version V, every artifact in
    * `maintain` advances from the version it reflects to V through its
    * batch IVM path — stats cell views
    * ([[CorpusViews.StatsView]]), BM25 postings
    * ([[CorpusViews.PostingsIndex]]), passage fingerprints
    * ([[CorpusViews.FingerprintIndex]]) — rescanning only the buckets
    * the merge touched. This is the reference's ingest loop
    * (`scripts/app.py:17-45`) keeping its serving-side state fresh as
    * a side effect of landing data, generalized from the vector index
    * to the whole derived-state family.
    *
    * Crash safety, both orders: a batch retried after its merge
    * committed re-merges content-identically (upserts are idempotent
    * by value) and `advance` no-ops on an already-reflected version; a
    * crash BETWEEN merge and artifact write leaves the artifact's
    * cursor behind, and the next advance spans both corpus transitions
    * (bucket pruning composes across version ranges). Either way every
    * artifact ends equal to its from-scratch rebuild at the latest
    * corpus version — the invariant the streaming case in
    * `StreamingSpec` pins for all three artifact kinds.
    *
    * Retention (`retainVersions`): without it the CoW version chain
    * grows unboundedly — at 100 TB a long-lived stream accumulates one
    * manifest (and its unshared data files) per micro-batch forever.
    * With `retainVersions = Some(n)`, each batch ends by
    * [[graft.pipeline.MergeTable.vacuum]]ing the corpus down to its
    * newest n versions — AFTER every artifact advanced, and never past
    * the oldest version a LAGGING artifact still reflects (a crash
    * between merge and artifact write leaves a cursor behind; its next
    * advance reads that version's manifest as the refresh pre-image,
    * so the keep horizon stretches to cover it rather than reclaiming
    * it). Time-travel reads of retained versions keep working; reads
    * of reclaimed versions fail loudly (the [[graft.pipeline
    * .MergeTable.read]] manifest check) — never wrongly.
    *
    * `expectations`/`quarantineDir` gate change records exactly as in
    * [[startMergeUpsert]] — quarantined records never reach the merge,
    * so no maintained artifact ever has to unwind a bad row.
    *
    * `aggregateExpectations` (Unique / ForeignKey — the rules a
    * per-record quarantine CANNOT express) are evaluated per
    * micro-batch against the POST-merge table, as a LOUD gate: a
    * violated key constraint throws before any maintained artifact
    * advances, so derived state never reflects a broken key and the
    * stream halts for the operator (DLT "fail"-expectation semantics —
    * a retried batch re-merges idempotently and re-trips until the
    * state is repaired; the offending version remains time-travelable
    * for diagnosis, and the retention vacuum ALSO runs before the halt
    * so a crash-looping retry keeps the version chain at its bound
    * instead of growing it per attempt). Quarantine stays row-only by
    * design: an aggregate
    * violation has no single offending row to divert. Cost: one
    * column-pruned aggregation over the table per Unique rule and one
    * anti-join per ForeignKey rule, per batch — the price of an exact
    * global key check; declare only the keys that matter. */
  def startMergeUpsertMaintained(
      spark: SparkSession,
      landingDir: String,
      tableDir: String,
      keyCol: String,
      schema: org.apache.spark.sql.types.StructType,
      checkpointDir: String,
      maintain: Seq[Maintained],
      deleteCol: Option[String] = None,
      versionCol: Option[String] = None,
      retainVersions: Option[Int] = None,
      expectations: Seq[graft.ops.Expectations.RowRule] = Nil,
      quarantineDir: Option[String] = None,
      aggregateExpectations: Seq[graft.ops.Expectations.Rule] = Nil,
      autoMaintainEvery: Int = 0,
      maxPendingDeleteKeys: Long = 100000L,
      targetFilesPerBucket: Int = 0): StreamingQuery = {
    retainVersions.foreach(n => require(n >= 1,
      s"retainVersions must keep at least the latest version, got $n"))
    require(expectations.isEmpty || quarantineDir.nonEmpty,
      "expectations need a quarantineDir — violations are never dropped silently")
    require(!aggregateExpectations.exists(
        _.isInstanceOf[graft.ops.Expectations.RowRule]),
      "row rules gate per-record via `expectations`; " +
        "aggregateExpectations is for Unique/ForeignKey")
    val changes = spark.readStream.schema(schema).json(landingDir)
    changes.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        upsertBatch(gateBatch(batch, batchId, expectations, quarantineDir),
            tableDir, keyCol, deleteCol, versionCol)
          .foreach { v =>
            val s = batch.sparkSession
            def vacuumRetained(): Unit = retainVersions.foreach { n =>
              val minReflected =
                maintain.flatMap(_.version(s)).minOption.getOrElse(v)
              // anchor on the TRUE head: auto-maintenance may have
              // committed versions past the merge's `v`, and the keep
              // horizon must still reach back to the laggiest artifact
              val head = graft.pipeline.MergeTable.latestVersion(s, tableDir)
              val keep = math.max(n, head - minReflected + 1)
              graft.pipeline.MergeTable.vacuum(s, tableDir, keep)
            }
            if (aggregateExpectations.nonEmpty)
              try graft.ops.Expectations.gate(
                graft.pipeline.MergeTable.read(s, tableDir, v),
                aggregateExpectations)
              catch { case e: Throwable =>
                // the gate halts this batch below; vacuum FIRST so a
                // crash-looping supervisor retrying a violating batch
                // (each restart re-merges it and commits another
                // violating version) keeps the chain at the retention
                // bound instead of growing it per attempt. The latest
                // violating version always survives the bound —
                // time-travelable for diagnosis. Residual: when
                // artifacts LAG (a crash landed between merge and
                // advance), the keep horizon must stretch back to
                // their reflected version, so retries accumulate
                // versions up to that lag until the input is repaired
                // — bounded by lag + retries, reclaimed by the first
                // clean batch's vacuum.
                vacuumRetained()
                throw e
              }
            maintain.foreach(_.advance(s, tableDir, v))
            // in-stream auto-maintenance (every `autoMaintainEvery`
            // batches): apply the advisor's PURGE and COMPACT repairs
            // so merge-on-read ledger debt and bucket fragmentation
            // self-heal without a batch operator in the loop. Both are
            // content-identical rewrites (a purge materializes deletes
            // every read already applied), so lagging artifacts stay
            // exact — their next advance sees the rewritten buckets as
            // changed and recomputes the same values. Layout repair
            // (recluster) stays a deliberate batch operation: it is a
            // curve-order rewrite whose cost profile an operator should
            // schedule, not a correctness debt.
            if (autoMaintainEvery > 0 && batchId % autoMaintainEvery == 0) {
              val M = graft.pipeline.MergeTable
              M.advise(s, tableDir, targetFilesPerBucket, maxPendingDeleteKeys)
                .filter(a => a.action == "purge" || a.action == "compact")
                .foreach { a =>
                  val mv = M.compactBuckets(s, tableDir, a.buckets)
                  System.err.println(
                    s"[maintain] auto ${a.action} of buckets " +
                      s"${a.buckets.mkString(",")} -> v$mv (${a.reason})")
                }
            }
            vacuumRetained()
          }
      }
      .start()
  }

  /** Bounded-state streaming dedup: `dropDuplicatesWithinWatermark` on
    * the content hash over JSON-lines records `(doc_id, event_time,
    * text)`. The complement of [[startDeduped]]'s corpus-as-state
    * design: there the dedup memory is the WHOLE corpus (exact forever,
    * state = a parquet column), here it is the streaming state store
    * bounded by the watermark — right when re-deliveries cluster in
    * time (crawler retries, at-least-once queues) and the corpus is too
    * large to anti-join per micro-batch. A duplicate arriving AFTER the
    * watermark has evicted its hash passes — that is the documented
    * trade; chain [[startDeduped]] or a Bloom tier downstream when
    * late re-deliveries matter.
    *
    * State is keyed by 16-byte md5 of normalized text (never text
    * bytes) and evicted once `event_time` falls behind the watermark by
    * more than `maxDelay` — constant-bounded by arrival rate × delay,
    * independent of corpus size. Exactly-once via the checkpoint:
    * restarts resume the state store, so a re-delivery straddling a
    * restart still dedups (spec-pinned). */
  def startDedupedWindowed(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      maxDelay: String = "10 minutes"): StreamingQuery = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id STRING, event_time TIMESTAMP, text STRING")
    spark.readStream.schema(schema).json(landingDir)
      .withColumn("content_hash", md5(graft.ops.Dedup.normalizedText(col("text"))))
      .withWatermark("event_time", maxDelay)
      .dropDuplicatesWithinWatermark("content_hash")
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .format("parquet")
      .option("path", outDir)
      .start()
  }
}
