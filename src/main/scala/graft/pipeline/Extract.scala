package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.embed.{Embedder, HashingEmbedder}
import graft.index.VectorIndex
import graft.ops.{ChunkText, Functions, PairAssets, Sectionize, UniqueNames}

/** The reference's two batch entry points, end-to-end on DOCX blocks.
  *
  * `sections` + `assets` mirror `docx_etl.py` (§3.2 of SURVEY.md): one
  * parse, two branches (the reference parses the file twice —
  * `docx_etl.py:225` vs `:232`; here the caller `.cache()`s the blocks
  * frame and branches). `ingest` mirrors `app.py` (§3.1): sections →
  * chunks → embeddings → vector index rows.
  */
object Extract {

  /** O-SEC over parsed DOCX paragraph blocks (kind == "para"; a blocks
    * frame without a `kind` column is treated as all-paragraphs). */
  def sections(blocks: DataFrame, headingPrefix: String = "Heading"): DataFrame = {
    val paras =
      if (blocks.columns.contains("kind")) blocks.filter(col("kind") === "para")
      else blocks
    Sectionize(paras, headingPrefix)
  }

  /** Classify raw DOCX blocks into the O-PAIR kind alphabet: caption
    * paragraphs split by figure/table intent (P3 + P4), image-bearing
    * paragraphs are figures, table blocks are tables. */
  def classify(blocks: DataFrame): DataFrame =
    blocks.withColumn("pair_kind",
      when(col("kind") === "para" && Functions.isCaption(col("style"), col("text")),
        concat(lit("caption_"), Functions.captionKind(col("text"))))
        .when(col("kind") === "para" && size(col("image_rel_ids")) > 0, lit("figure"))
        .when(col("kind") === "table", lit("table"))
        .otherwise(lit("para")))

  /** Captioned assets with sanitized, collision-suffixed filenames:
    * the `docx_etl.py:174-205` extractor. Output:
    * `(doc_id, cap_seq, caption, asset_seq, kind, filename)`. */
  def assets(blocks: DataFrame): DataFrame = {
    val paired = PairAssets(
      classify(blocks).select(
        col("doc_id"), col("seq"), col("pair_kind").as("kind"), col("text")))
    val named = UniqueNames(
      paired.select(
        col("doc_id"), col("asset_seq").as("seq"),
        Functions.sanitizeName(col("caption")).as("base"),
        when(col("kind") === "table", lit(".csv")).otherwise(lit(".png")).as("ext"),
        col("cap_seq"), col("caption"), col("kind")))
    named.select(
      col("doc_id"), col("cap_seq"), col("caption"),
      col("seq").as("asset_seq"), col("kind"), col("filename"))
  }

  /** [[assets]] with figure extensions resolved from the actual media
    * part (P11: target filename, else ".bin") instead of the ".png"
    * default — the reference's `save_image` ext resolution
    * (`docx_etl.py:152`). `media` comes from `DocxReader.readMedia`. */
  def assetsWithMedia(blocks: DataFrame, media: DataFrame): DataFrame = {
    val paired = PairAssets(
      classify(blocks).select(
        col("doc_id"), col("seq"), col("pair_kind").as("kind"), col("text")))
    val rels = blocks
      .filter(size(col("image_rel_ids")) > 0)
      .select(col("doc_id"), col("seq").as("asset_seq"),
        element_at(col("image_rel_ids"), 1).as("rel_id"))
    val mediaExt = media.select(col("doc_id"), col("rel_id"),
      Functions.fileExt(col("target"), lit(null)).as("media_ext"))
    val withExt = paired
      .join(rels, Seq("doc_id", "asset_seq"), "left")
      .join(mediaExt, Seq("doc_id", "rel_id"), "left")
      .withColumn("ext",
        when(col("kind") === "table", lit(".csv"))
          .otherwise(coalesce(col("media_ext"), lit(".bin"))))
    UniqueNames(
      withExt.select(col("doc_id"), col("asset_seq").as("seq"),
        Functions.sanitizeName(col("caption")).as("base"), col("ext"),
        col("cap_seq"), col("caption"), col("kind")))
      .select(col("doc_id"), col("cap_seq"), col("caption"),
        col("seq").as("asset_seq"), col("kind"), col("filename"))
  }

  /** S7 — captioned-table cells as flat CSV-ready rows with whitespace
    * normalized (P6): `(doc_id, filename, row_idx, col_idx, cell)`. */
  def tableRows(blocks: DataFrame): DataFrame = {
    val tableAssets = assets(blocks).filter(col("kind") === "table")
      .select(col("doc_id"), col("asset_seq"), col("filename"))
    blocks.filter(col("kind") === "table")
      .select(col("doc_id"), col("seq").as("asset_seq"), col("table_cells"))
      .join(tableAssets, Seq("doc_id", "asset_seq"))
      .select(col("doc_id"), col("filename"),
        posexplode(col("table_cells")).as(Seq("row_idx", "cells")))
      .select(col("doc_id"), col("filename"), col("row_idx"),
        posexplode(col("cells")).as(Seq("col_idx", "cell")))
      .withColumn("cell", Functions.normalizeWs(col("cell")))
  }

  /** D1/D3 — the reference's nested ParsedDocument(WithChunks) shape
    * (`app.py:37-38` writes it as `out/{filename}.json`): one row per
    * document with `paragraphs: ARRAY<STRUCT<title, text, chunks>>` in
    * section order. `array_sort(collect_list(struct(sec_id, …)))` keeps
    * the order stable under shuffle. */
  def toParsedDocument(
      blocks: DataFrame,
      chunkSize: Int = ChunkText.DefaultChunkSize,
      overlap: Int = ChunkText.DefaultOverlap): DataFrame = {
    sections(blocks)
      .withColumn("chunks", ChunkText.chunksCol(col("text"), chunkSize, overlap))
      .groupBy(col("doc_id").as("document_name"))
      .agg(
        transform(
          array_sort(collect_list(struct(
            col("sec_id"), col("title"), col("text"), col("chunks")))),
          p => struct(
            p.getField("title").as("title"),
            p.getField("text").as("text"),
            p.getField("chunks").as("chunks"))).as("paragraphs"))
  }

  /** §3.1 ingest: sections → P7 embed key → 700/200 chunks → embeddings
    * → unit-normalized index rows with denormalized payload (O-DENORM:
    * every row carries document/paragraph/version —
    * `qdrant_service.py:34-39`).
    *
    * The result is ONE leaf logical node (`LogicalRDD`, see
    * `Bridge.asLeaf`) over the ingest's own RDD, not the DOCX →
    * sections → chunks → embed plan. A caller that persists it caches a
    * one-node plan, so every query derived from the index analyzes,
    * explains and posts a plan of constant size instead of re-walking
    * the ingest's lineage on each request. The lineage stays in the
    * RDD: nothing is stored, no checkpoint directory is needed, and a
    * lost (or unpersisted) partition is recomputed. The schema,
    * nullability and `containsNull` included, is the composed plan's.
    * What changes against a plain DataFrame:
    *  - building the leaf runs the ingest's shuffle-map stage (AQE
    *    materializes its query stages), as `Checkpointing.shared`
    *    does; the result stage runs on the first action;
    *  - a downstream projection or filter no longer prunes the ingest:
    *    every column is computed;
    *  - the partition count follows AQE's coalescing of that stage (a
    *    6 MB index of 40 manuals is 1 partition; the cached composed
    *    plan kept `spark.sql.shuffle.partitions`). */
  def ingest(
      blocks: DataFrame,
      version: String = "1",
      embedder: Embedder = HashingEmbedder()): DataFrame = {
    val secs = sections(blocks)
    val chunked = ChunkText.explodeChunks(secs, "text")
      .select(col("doc_id"), col("sec_id"), col("title"), col("chunk_idx"),
        Functions.embedKey(col("title"), col("chunk_text")).as("embed_text"),
        col("chunk_text"))
    val embedded = Embedder.embedColumn(chunked, "embed_text", embedder)
    Bridge.asLeaf(VectorIndex.withNormalized(embedded)
      .select(
        Functions.contentId(col("doc_id"), col("sec_id"), col("chunk_idx")).as("id"),
        col("embedding"),
        col("chunk_text").as("text"),
        col("title").as("paragraph_name"),
        col("doc_id").as("document_name"),
        lit(version).as("document_version")))
  }
}
