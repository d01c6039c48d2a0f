package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{ChunkDocument, CosineSimF32, CosineSimI8, DotProductF32, L2NormF32, TokenCount}
import graft.operators.RoutedGraphSearchStrategy

/** SparkSessionExtensions entry point: makes graft's native expressions —
  * the vector kernels and the `chunk_document` generator — first-class SQL
  * functions, and plans the persisted routed graph search
  * ([[graft.operators.RoutedGraphSearchStrategy]]), in any session built with
  * `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * With this installed, the entire chunk→embed→search surface is reachable
  * from pure SQL, e.g.
  * {{{
  *   SELECT doc_id, c.* FROM documents
  *   LATERAL VIEW chunk_document(text, 'txt', 64, 8, 1) c
  * }}}
  * (SURVEY §2.12 — Generator + Expression registration; the per-session
  * `GraftFunctions.register` path stays for sessions we don't construct.)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // dot_f32(a, b): float32 dot product
    ext.injectFunction((FunctionIdentifier("dot_f32"), info("dot_f32"),
      (es: Seq[Expression]) => DotProductF32(es(0), es(1))))
    // cosine_f32(a, b): float32 cosine similarity
    ext.injectFunction((FunctionIdentifier("cosine_f32"), info("cosine_f32"),
      (es: Seq[Expression]) => CosineSimF32(es(0), es(1))))
    // l2norm_f32(a): float32 L2 norm
    ext.injectFunction((FunctionIdentifier("l2norm_f32"), info("l2norm_f32"),
      (es: Seq[Expression]) => L2NormF32(es(0))))
    // cosine_i8(codes, probe): approx cosine over int8-quantized codes
    ext.injectFunction((FunctionIdentifier("cosine_i8"), info("cosine_i8"),
      (es: Seq[Expression]) => CosineSimI8(es(0), es(1))))
    // chunk_document(text, ext, maxTokens, overlap, minTokens): chunk rows
    ext.injectFunction((FunctionIdentifier("chunk_document"), info("chunk_document"),
      (es: Seq[Expression]) => ChunkDocument(es)))
    // graft_token_count(text): codegen'd hot-path tokenizer count
    ext.injectFunction((FunctionIdentifier("graft_token_count"), info("graft_token_count"),
      (es: Seq[Expression]) => TokenCount(es(0))))
    // the persisted routed graph search's one-job plan
    ext.injectPlannerStrategy(_ => RoutedGraphSearchStrategy)
  }
}
