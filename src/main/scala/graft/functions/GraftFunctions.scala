package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit, typedLit}
import graft.core._

/** Registration + Column-level API for graft's custom functions.
  *
  * Native Catalyst expressions (vector kernels) are registered into the
  * session FunctionRegistry so they are usable from both SQL and the Column
  * API via `call_function` — this avoids private Column↔Expression bridges.
  * Domain scalar functions that are not hot-path (langid/title/…) are
  * Scala UDFs; hot-path scalars (token_count, minhash, simhash) are
  * codegen'd expressions — promotion is a perf, not a correctness,
  * decision.
  */
object GraftFunctions {

  // registration is idempotent (createOrReplace semantics), so no guard needed
  def register(spark: SparkSession): Unit = synchronized {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("dot_f32", es => DotProductF32(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_f32", es => CosineSimF32(es(0), es(1)), "scala_udf")
    // hot-path: the IVF cell assignment of every k-means iteration and append
    reg.createOrReplaceTempFunction("nearest_cell_f32", es => NearestCellF32(es), "scala_udf")
    reg.createOrReplaceTempFunction("l2norm_f32", es => L2NormF32(es(0)), "scala_udf")
    reg.createOrReplaceTempFunction("cosine_i8", es => CosineSimI8(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("binary_dot_f32",
      es => BinaryDotF32(es(0), es(1)), "scala_udf")
    // one-to-many chunking as a native Generator (LATERAL VIEW-able)
    reg.createOrReplaceTempFunction("chunk_document", es => ChunkDocument(es), "scala_udf")
    // hot-path: the a7 speaker-turn fold — one generator call per group
    // replaces lag + running-sum WindowExec + a second aggregate exchange
    reg.createOrReplaceTempFunction("graft_turn_merge", es => TurnMerge(es), "scala_udf")
    // hot-path: runs per chunk in every chunking pipeline → codegen'd
    reg.createOrReplaceTempFunction("graft_token_count", es => TokenCount(es(0)), "scala_udf")
    // hot-path: one sketch per document in every near-dup family → codegen'd
    reg.createOrReplaceTempFunction("graft_minhash", es => MinHashSignature(es(0)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_simhash", es => SimHash64(es(0)), "scala_udf")
    // hot-path: per-doc shingle set + per-pair merge-loop Jaccard (the
    // verify stage of d4/d8/d14) → codegen'd
    reg.createOrReplaceTempFunction("graft_shingle_set",
      es => ShingleHashSet(es(0)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_set_jaccard",
      es => SortedSetJaccard(es(0), es(1)), "scala_udf")
    // hot-path: the corpus-overlap sketch's portable (sh, md5-prefix) pairs
    reg.createOrReplaceTempFunction("graft_overlap_shingles",
      es => OverlapShingles(es(0), es(1)), "scala_udf")
    // hot-path: the d11/d12 pseudo-paragraph window frame, one pass per doc
    reg.createOrReplaceTempFunction("graft_para_windows",
      es => ParaWindows(es(0), es(1)), "scala_udf")

    // Domain scalar/generator functions as UDFs (SURVEY §2.12).
    spark.udf.register("graft_title", (s: String) => TextKeys.titleFromFilename(s))
    spark.udf.register("graft_sanitize_key", (s: String) => TextKeys.sanitizeKey(s))
    spark.udf.register("graft_chunk_key",
      (url: String, id: Int) => TextKeys.stableChunkKey(url, id))
    spark.udf.register("graft_utf8_truncate",
      (s: String, maxBytes: Int) => TextKeys.utf8SafeTruncate(s, maxBytes))
    spark.udf.register("graft_fingerprint", (s: String) => TextKeys.rollingFingerprint(s))
    // Resolve the tokenizer seam HERE, on the driver, and capture it in
    // the closures: a default-parameter call inside the lambda would
    // resolve graft.bpe.mergesPath on each EXECUTOR, where the property
    // may not be set — the driver-captured instance serializes into the
    // task closure instead, so every node tokenizes identically.
    val tok = graft.core.Tokenize.default
    spark.udf.register("graft_split_recursive",
      (s: String, maxTokens: Int, overlap: Int) =>
        TextSplitters.recursiveSplit(s, SplitParams(maxTokens, overlap, tokenizer = tok)))
    spark.udf.register("graft_split_markdown",
      (s: String, maxTokens: Int, overlap: Int) =>
        TextSplitters.markdownSplit(s, SplitParams(maxTokens, overlap, tokenizer = tok)))
    spark.udf.register("graft_json_partition",
      (s: String, maxTokens: Int) => JsonPartitioner.partition(s, maxTokens, tok))
    spark.udf.register("graft_langid", (s: String) => LangId.detect(s))
  }

  // Column API
  def dot_f32(a: Column, b: Column): Column = call_function("dot_f32", a, b)
  def cosine_f32(a: Column, b: Column): Column = call_function("cosine_f32", a, b)
  /** The id of the centroid nearest `vec`; a null vector is refused with
    * an error that names `column`.
    */
  def nearest_cell_f32(vec: Column, centroids: Array[(Int, Array[Float])],
      column: String): Column =
    call_function("nearest_cell_f32", vec, typedLit(centroids.map(_._1)),
      typedLit(centroids.map(_._2)), lit(column))
  def l2norm_f32(a: Column): Column = call_function("l2norm_f32", a)
  def cosine_i8(codes: Column, probe: Column): Column = call_function("cosine_i8", codes, probe)
  def binary_dot_f32(bits: Column, probe: Column): Column =
    call_function("binary_dot_f32", bits, probe)
  def minhash(c: Column): Column = call_function("graft_minhash", c)
  def simhash(c: Column): Column = call_function("graft_simhash", c)
  def langid(c: Column): Column = call_function("graft_langid", c)
  def token_count(c: Column): Column = call_function("graft_token_count", c)
  def shingle_set(c: Column): Column = call_function("graft_shingle_set", c)
  def overlap_shingles(c: Column, k: Column): Column =
    call_function("graft_overlap_shingles", c, k)
  def para_windows(c: Column, w: Column): Column =
    call_function("graft_para_windows", c, w)
  def turn_merge(c: Column): Column = call_function("graft_turn_merge", c)
  def set_jaccard(a: Column, b: Column): Column = call_function("graft_set_jaccard", a, b)
  def fingerprint(c: Column): Column = call_function("graft_fingerprint", c)
}
