package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core._

/** Format-dispatched chunking as a one-to-many generator (SURVEY §2.9).
  *
  * The reference's ChunkerFactory dispatches on extension
  * (/root/reference/chunking/chunker_factory.py:34-72); here dispatch happens
  * inside one serializable function so the whole corpus chunks in a single
  * distributed explode — no per-format job fan-out. Chunk ids, offsets and
  * stable keys are window functions (W1/W3) + X3 over the exploded rows.
  */
object Chunkers {

  /** Pure dispatch: (text, ext) → ordered chunk list. Formats:
    * md → markdown-aware split; json → greedy JSON partitioner;
    * vtt → speaker-merged transcript then sentence split;
    * xlsx → markdown-aware split (extraction renders markdown tables);
    * txt/csv/html/py/xml and unknown → recursive split (C7 default).
    */
  /** Locale-independent lowercase — dispatch on "Report.MD" or a Turkish
    * default locale must behave identically to "report.md". Normalized
    * HERE, once, so every caller (Generator, API, queries) agrees.
    */
  private def normExt(ext: String): String =
    if (ext == null) "txt" else ext.toLowerCase(java.util.Locale.ROOT)

  def chunkText(text: String, rawExt: String, p: SplitParams): Seq[String] = {
    if (text == null || text.isEmpty) return Seq.empty
    val ext = normExt(rawExt)
    val ltext = ext match {
      case "vtt" => Vtt.toTranscript(text)
      case _ => text
    }
    ext match {
      case "md" | "markdown" | "xlsx" | "xls" => TextSplitters.markdownSplit(ltext, p)
      case "json" =>
        try JsonPartitioner.partition(ltext, p.maxTokens)
        catch { case _: Exception => TextSplitters.recursiveSplit(ltext, p) }
      case _ => TextSplitters.recursiveSplit(ltext, p)
    }
  }

  /** The chunk UDF's name in [[chunkDocuments]]' plans. */
  val ChunkUdfName = "chunk_text"

  /** Binary formats whose payload is decoded structurally, not by charset. */
  val binaryExts: Set[String] = Set("pdf", "docx", "xlsx", "xls", "pptx")

  /** S13: bytes → text by format. pdf/docx/xlsx/pptx decode their real
    * binary containers (graft.formats); xlsx renders one markdown table per
    * sheet (first row as header, spreadsheet_chunker.py:71-120 analog);
    * pptx yields slide paragraphs separated by blank lines (the reference
    * routes pptx through the same layout-analysis markdown path as docx,
    * chunker_factory.py:60-66); anything else charset-detects (X7) and
    * decodes.
    */
  def extractText(bytes: Array[Byte], rawExt: String): String = normExt(rawExt) match {
    case "pdf" => graft.formats.Pdf.extractText(bytes)
    case "docx" => graft.formats.Ooxml.docxText(bytes)
    case "pptx" => graft.formats.Ooxml.pptxText(bytes)
    case ext @ ("xlsx" | "xls") =>
      // legacy BIFF8 .xls and OOXML .xlsx render identically (the reference
      // dispatches both to one spreadsheet chunker, chunker_factory.py:47)
      val sheets = if (ext == "xls") graft.formats.Biff.readXls(bytes)
        else graft.formats.Ooxml.readXlsx(bytes)
      sheets.filter(_.rows.nonEmpty).map { sh =>
        val sheet = Spreadsheet.Sheet(sh.name, sh.rows.head, sh.rows.tail)
        s"# ${sh.name}\n" + Spreadsheet.toMarkdown(sheet)
      }.mkString("\n\n")
    case _ => Charsets.decodeDetected(bytes)._1
  }

  /** Explode documents into chunk rows with sequence ids, running offsets and
    * stable keys. Input needs (idCol, textCol [, extCol]); output adds
    * chunk_id, content, n_tokens, chunk_offset, chunk_key. The chunker runs
    * once per input row, on this frame's input only.
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      extCol: Option[String], p: SplitParams): DataFrame = {
    val splitUdf = udf((text: String, ext: String) =>
      chunkText(text, if (ext == null) "txt" else ext, p)
        .filter(c => p.tokenizer.count(c) >= p.minChunkTokens)).withName(ChunkUdfName)
    val ext = extCol.map(col).getOrElse(lit("txt"))
    // posexplode_outer + a null-position filter, not posexplode: the same
    // rows, in a form the optimizer cannot see through. For an inner
    // generator over a column, InferFiltersFromGenerate derives
    // `size(_chunks) > 0 AND isnotnull(_chunks)`, and pushdown substitutes
    // the chunk UDF for `_chunks` and moves that filter below any join
    // under `docs`: behind runOnce's change-detect join, the inner form
    // chunks every listed document to keep the changed few, and chunks
    // each kept one twice
    val exploded = docs
      .withColumn("_chunks", splitUdf(col(textCol), ext))
      .select(docs.columns.toIndexedSeq.map(col) :+
        posexplode_outer(col("_chunks")).as(Seq("chunk_id", "content")): _*)
      .filter(col("chunk_id").isNotNull)
    val w = Window.partitionBy(col(idCol)).orderBy(col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val keyUdf = udf((id: String, cid: Int) => TextKeys.stableChunkKey(id, cid))
    exploded
      .withColumn("n_tokens", graft.functions.GraftFunctions.token_count(col("content")))
      .withColumn("chunk_offset", coalesce(sum(length(col("content"))).over(w), lit(0L)))
      .withColumn("chunk_key", keyUdf(col(idCol).cast("string"), col("chunk_id")))
  }
}
