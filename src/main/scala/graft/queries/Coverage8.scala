package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.load
import graft.functions.GraftFunctions
import org.apache.spark.sql.Column
import graft.operators.{Dedup, Quality, Sampling, Search, TextAnalysis}

/** Coverage wave 8 — semantic dedup, importance resampling, and domain
  * mixing: the remaining big-name training-corpus constructions. Sampling
  * decisions stay in pure integer arithmetic ([[graft.operators.Sampling
  * .portableHash]]) and float scores round identically on both sides, so
  * the DuckDB oracles reproduce exact row sets.
  */
object Coverage8 {
  type Q = (SparkSession, String) => DataFrame

  private val SemTau = 0.45 // d10: embeddings-table near-dup band is cos≈0.45-0.51
  private val ParaWords = 12 // d11/d12: tokens per pseudo-paragraph window
  private val SpanWindow = 8 // d17: stride-1 window length (tokens)

  /** The gate corpus has no newlines, so "paragraphs" are non-overlapping
    * 12-token windows — same slicing the DuckDB oracle spells with list
    * ranges. Empty docs produce an empty array (sequence(0,-1) would
    * otherwise count DOWN).
    */
  // One-pass codegen'd kernel (functions/TextExpressions.ParaWindows);
  // value-identical to the retired HOF chain
  //   transform(sequence(0, ceil(n/w)-1), g -> array_join(slice(toks,
  //     g*w+1, w), ' '))
  // over toks = filter(split(trim(text),' '), t -> t != ''), which was
  // CodegenFallback and dominated d11 (0.38 s of 0.59 s; SCALING.md "Floor
  // attribution: d11, a7").
  private def paraWindows(text: Column): Column =
    graft.functions.GraftFunctions.para_windows(text, lit(ParaWords))

  val queries: Map[String, Q] = Map(
    // D10: SemDeDup (Abbas et al. 2023) — k-means cells, within-cell greedy
    // cosine pruning. The clustering is float-order sensitive at cell
    // boundaries, so the oracle gates INVARIANTS computed from the single
    // audited evaluation: every dropped row is covered by an earlier kept
    // row in its cell at cos ≥ τ, no kept pair in a cell is within τ, and
    // survivors are a nonempty proper subset (the table plants near-dups).
    "d10_semdedup" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings").select($"vec_id".as("id"), $"embedding")
      val flags = Dedup.semDedupFlags(s, emb, "id", "embedding",
        nClusters = 8, minCosine = SemTau).localCheckpoint(true)
      val withVec = flags.join(emb, Seq("id"))
      val kept = withVec.filter($"kept").select($"id", $"cell", $"embedding")
      val dropped = withVec.filter(!$"kept").select($"id", $"cell", $"embedding")
      val nDocs = emb.count()
      val nKept = kept.count()
      val nDropped = dropped.count()
      val covered = dropped.alias("d").join(kept.alias("k"),
        col("d.cell") === col("k.cell") && col("k.id") < col("d.id") &&
          GraftFunctions.cosine_f32(col("d.embedding"), col("k.embedding")) >= SemTau,
        "left_semi").count()
      val keptViolations = kept.alias("a").join(kept.alias("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id") &&
          GraftFunctions.cosine_f32(col("a.embedding"), col("b.embedding")) >= SemTau)
        .count()
      Seq((nDocs, nKept + nDropped == nDocs, nKept > 0 && nKept < nDocs,
        covered == nDropped, keptViolations == 0L))
        .toDF("n_docs", "partition_ok", "pruned_some", "dropped_covered",
          "kept_separated")
    }),

    // T10: DSIR importance weights — hashed-unigram log-likelihood ratio of
    // the 'en' target slice vs the raw corpus. The per-doc weight must be
    // exactly reproducible from the portable bucket hash (full per-doc
    // value set hash-matched; DsirMixSpec asserts the ordering semantics).
    "t10_dsir_weights" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      TextAnalysis.dsirLogWeights(docs, "doc_id", "text", $"lang" === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    }),

    // A12: mergeable quantile sketch (approx_percentile / KLL-style) vs the
    // exact interpolated quantile — the distributed-sketch analog of t9's
    // exact path. Like d6's HLL gate, the oracle pins the accuracy
    // invariant: each approximate quantile lands within 5 % of the
    // per-stratum value range of the exact answer.
    "a12_approx_quantiles" -> ((s, d) => {
      import s.implicits._
      val byLang = load(s, d, "documents").groupBy($"lang").agg(
        count(lit(1)).as("n_docs"),
        expr("approx_percentile(n_chars, array(0.5D, 0.9D), 10000)").as("ap"),
        expr("percentile(n_chars, array(0.5D, 0.9D))").as("ex"),
        (max($"n_chars") - min($"n_chars")).cast("double").as("range"))
      byLang.select($"lang", $"n_docs",
          (abs($"ap"(0) - $"ex"(0)) <= $"range" * 0.05).as("p50_ok"),
          (abs($"ap"(1) - $"ex"(1)) <= $"range" * 0.05).as("p90_ok"))
        .orderBy($"lang")
    }),

    // T11: CCNet-style perplexity quality score — per-doc NLL under the
    // 'en' reference unigram distribution. Full per-doc value set
    // hash-matched at 4 dp.
    "t11_unigram_ppl" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      TextAnalysis.unigramPerplexity(docs, "doc_id", "text", $"lang" === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    }),

    // T13: CCNet-fidelity perplexity under a REAL bigram LM (explicit
    // top-V vocabulary, reference-trained bigram table, stupid backoff) —
    // unlike t11's hashed unigrams, token identity is exact and word ORDER
    // matters. Full per-doc value set hash-matched at 4 dp against an
    // oracle that rebuilds the identical model in SQL.
    "t13_bigram_ppl" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      TextAnalysis.bigramPerplexity(docs, "doc_id", "text", $"lang" === "en",
          vocabSize = 512, minBigramCount = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    }),

    // T14: declarative filter-config ensemble (the Dolma/RedPajama
    // filter-block shape): named Column rules → one-scan audit report →
    // per-language accounting. Rules overlap by construction, so the gate
    // proves fail counts are per-rule, not partitioned.
    "t14_filter_config" -> ((s, d) => {
      import s.implicits._
      val nWords = size(filter(split(trim($"text"), " "), t => length(t) > 0))
      val rules = Seq(
        Quality.FilterRule("min_chars", $"n_chars" >= 100),
        Quality.FilterRule("max_words", nWords <= 80),
        Quality.FilterRule("lang_allowed", $"lang".isin("en", "de", "fr", "es")))
      Quality.filterReport(load(s, d, "documents"), rules)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(!$"pass_min_chars", 1L).otherwise(0L)).as("fail_min_chars"),
          sum(when(!$"pass_max_words", 1L).otherwise(0L)).as("fail_max_words"),
          sum(when(!$"pass_lang_allowed", 1L).otherwise(0L)).as("fail_lang"),
          sum(when($"keep_doc", 1L).otherwise(0L)).as("n_kept"))
        .orderBy($"lang")
    }),

    // T15: TRAINED quality classifier (DCLM / FineWeb-Edu discipline,
    // the t10 hashed-unigram kernel reused) — logistic regression fit
    // to seed labels ('en' provenance on the doc_id%3=0 slice; 8
    // full-batch GD epochs, each ONE aggregate), then every document
    // scored map-only with the broadcast weights. The oracle RETRAINS
    // the identical model in SQL (same features, same unrolled epochs,
    // same per-epoch quantization) — full per-doc score set
    // hash-matched at 4 dp. QualityLrSpec pins learnability on a
    // separable planted corpus, train determinism, and the
    // shuffle-free scoring plan.
    "t15_quality_classifier" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      val model = TextAnalysis.trainQualityLr(docs, "doc_id", "text",
        $"lang" === "en", $"doc_id" % 3 === 0)
      TextAnalysis.scoreQualityLr(docs, "doc_id", "text", model)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    }),

    // T15b: the FineWeb-Edu GRADED head (arXiv:2406.17557 regresses 0–5
    // educational scores, then thresholds) — a linear second head over
    // t15's hashed-unigram features, same bounded training shape (one
    // ≤ buckets+1-row aggregate per epoch, 7/6 dp per-epoch quantization)
    // fit to a planted 1–5 rubric (lang tier + two deterministic rubric
    // bits), scored map-only into (grade_score@4dp, clamped int grade).
    // The oracle retrains the identical model in SQL; full per-doc
    // (score, grade) set hash-matched. QualityLrSpec holds the held-out
    // evaluation gates (AUC above the untrained baseline on a grouped
    // split — the half the hash-match can't prove).
    "t15b_quality_grades" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      val grade = (when($"lang" === "en", 3)
          .when($"lang".isin("de", "fr"), 2).otherwise(1) +
        when($"n_chars" % 2 === 0, 1).otherwise(0) +
        when($"doc_id" % 7 === 0, 1).otherwise(0)).cast("int")
      val model = TextAnalysis.trainQualityGrades(docs, "doc_id", "text",
        grade, $"doc_id" % 3 === 0)
      TextAnalysis.scoreQualityGrades(docs, "doc_id", "text", model)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    }),

    // T15c: grade-cut CALIBRATION (r17 verdict item 6) — the graded
    // head ships AUC; a FineWeb-Edu deployment thresholds at a grade
    // cut, so this emits the per-cut confusion/PR table from the
    // HELD-OUT split (train on doc_id%3=0, calibrate on the rest;
    // positive rule = planted grade ≥ 3, the FineWeb-Edu keep rule) and
    // flags the argmax-F1 cut. Full 6-row table hash-matched against a
    // DuckDB retrain of the identical model. NOTE the honest division
    // of claims: this table is the deployment SURFACE (determinism +
    // cross-engine correctness); the "argmax-F1 recovers the planted
    // cut" CLAIM is pinned in QualityLrSpec on a separable planted
    // corpus — the synthetic documents table's rubric rides lexically
    // unlearnable signals (shared 31-token vocabulary), so its optimal
    // cut is degenerate by construction, and gating "cut == 3" here
    // would gate noise.
    "t15c_grade_calibration" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      def gradeOf(df: org.apache.spark.sql.DataFrame) =
        (when(df("lang") === "en", 3)
          .when(df("lang").isin("de", "fr"), 2).otherwise(1) +
          when(df("n_chars") % 2 === 0, 1).otherwise(0) +
          when(df("doc_id") % 7 === 0, 1).otherwise(0)).cast("int")
      val model = TextAnalysis.trainQualityGrades(docs, "doc_id", "text",
        gradeOf(docs), $"doc_id" % 3 === 0)
      val heldOut = docs.filter($"doc_id" % 3 =!= 0)
      val scored = TextAnalysis
        .scoreQualityGrades(heldOut, "doc_id", "text", model)
        .join(heldOut.select($"doc_id".as("id"),
          (gradeOf(heldOut) >= 3).as("pos")), Seq("id"))
      TextAnalysis.gradeCutCalibration(scored, "grade", $"pos")
        .orderBy($"cut")
    }),

    // T12: one-scan column profile (ANALYZE analog) — row count, per-column
    // non-null and exact distinct counts; the multi-distinct plans through
    // Expand so the whole profile is one shuffle.
    "t12_corpus_profile" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.profileColumns(load(s, d, "documents"),
          Seq("doc_id", "lang", "source", "text", "n_chars"))
        .orderBy($"column_name")
    }),

    // C9: content-defined chunking — rolling-hash boundaries, so chunk
    // identity survives document edits (CdcSpec asserts resynchronization).
    // Deterministic pure function → snapshot VALUES oracle pins the exact
    // per-lang chunk population.
    "c9_cdc_chunks" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      TextAnalysis.withCdcChunks(docs, "doc_id", "text")
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_chunks"),
          sum(length($"chunk_text")).as("chars_total"),
          max(length($"chunk_text")).as("max_len"),
          min(length($"chunk_text")).as("min_len"))
        .orderBy($"lang")
    }),

    // SP6: domain-mixture sampling — downsample per language toward a
    // 3:1:1:1:1 en-heavy target under a half-token budget; keeps are
    // hash-deterministic so the oracle reproduces the exact kept set.
    "sp6_domain_mix" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
        .withColumn("n_tokens",
          size(filter(split(trim($"text"), " "), t => length(t) > 0)).cast("long"))
      val kept = Sampling.domainMixSample(docs, "lang", "doc_id", "n_tokens",
        Map("en" -> 3, "de" -> 1, "fr" -> 1, "es" -> 1, "zh" -> 1),
        budgetNum = 1, budgetDen = 2)
      kept.groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_tokens").as("tok_kept"),
          min($"doc_id").as("first_id"))
        .orderBy($"lang")
    }),

    // P3: end-to-end corpus build — the composition a pretraining-data run
    // actually executes: quality filter → exact dedup → domain mixing →
    // document-intact packing into 1024-token bins. Every stage is a
    // proven-portable fragment (t2 / d1 / sp6 / sp5), so the WHOLE
    // pipeline hash-matches an independent DuckDB recompute, kept row set
    // and bin boundaries included.
    "p3_corpus_build" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      val q = TextAnalysis.withQualityScore(docs, "text")
        .filter($"n_tokens" >= 10 && $"punct_ratio" <= 0.3 &&
          $"mean_word_len" <= 40.0)
      val deduped = Dedup.dropExactDuplicates(q, "doc_id", "text")
        .withColumn("mix_tokens",
          size(filter(split(trim($"text"), " "), t => length(t) > 0)).cast("long"))
      val mixed = Sampling.domainMixSample(deduped, "lang", "doc_id", "mix_tokens",
        Map("en" -> 3, "de" -> 1, "fr" -> 1, "es" -> 1, "zh" -> 1),
        budgetNum = 1, budgetDen = 2)
      val packed = Sampling.packGreedyIntact(
        mixed.select($"lang", $"doc_id", $"mix_tokens"),
        "lang", "doc_id", "mix_tokens", budgetTokens = 1024)
      packed.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          (max($"bin_id") + 1L).as("n_bins"),
          sum($"mix_tokens").as("tok_total"),
          round(sum($"mix_tokens") / ((max($"bin_id") + 1L) * lit(1024.0)), 4)
            .as("util"))
        .orderBy($"lang")
    }),

    // SP7: deterministic epoch reshuffle — two epochs, eight shards; the
    // per-(epoch, shard) counts, the identity of position 1, and an
    // order-weighted checksum pin the exact permutation. Distinct epochs
    // must produce distinct orders (asserted by the checksum differing —
    // the oracle reproduces both).
    "sp7_epoch_shuffle" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents").select($"doc_id")
      Sampling.epochShuffle(docs, "doc_id", epochs = 2, nShards = 8)
        .groupBy($"epoch", $"shard")
        .agg(count(lit(1)).as("n_docs"),
          sum($"pos" * $"doc_id").as("order_checksum"),
          sum(when($"pos" === 1, $"doc_id")).as("first_doc"))
        .orderBy($"epoch", $"shard")
    }),

    // SP10: epoch shard export — the training-data final mile: epoch 1 of
    // the corpus written as numbered shard dirs in deterministic training
    // order, manifest (count, token sum, Σ pos·id order checksum)
    // hash-matched, and the written files re-verified against the
    // manifest from disk (verifyEpoch recomputes from the shard files).
    "sp10_export_shards" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-sp10").toString
      val docs = load(s, d, "documents").select($"doc_id", $"n_chars")
      val manifest = graft.pipeline.ShardExport.exportEpoch(
        docs, "doc_id", "n_chars", epoch = 1, nShards = 8, outDir = root)
      val ok = graft.pipeline.ShardExport.verifyEpoch(
        s, root, epoch = 1, "doc_id", "n_chars")
      manifest.withColumn("verified", lit(ok)).orderBy($"shard")
    }),

    // SP12: WebDataset-style tar shard export — one epoch as
    // byte-deterministic USTAR archives, members in training order. The
    // oracle recomputes shard membership (the sp10 md5 convention) AND
    // the exact tar byte size (512-byte header + 512-padded content per
    // member + 1024 trailer) without ever building a tar; verifyTarEpoch
    // re-reads every archive and checks membership, order, bytes, md5.
    "sp12_tar_export" -> ((s, d) => {
      import s.implicits._
      val root = java.nio.file.Files.createTempDirectory("graft-sp12").toString
      val docs = load(s, d, "documents").select($"doc_id", $"text")
      val manifest = graft.pipeline.ShardExport.exportTarShards(
        docs, "doc_id", "text", epoch = 1, nShards = 8, outDir = root)
        .localCheckpoint(true) // one evaluation writes the files
      val ok = graft.pipeline.ShardExport.verifyTarEpoch(s, root, 1, manifest)
      manifest.select($"shard", $"n_docs", $"tar_bytes")
        .withColumn("verified", lit(ok)).orderBy($"shard")
    }),

    // SP11: materialized weighted upsampling — the "N epochs of wiki"
    // mixing primitive: ⌊w⌋ copies + a portable-hash Bernoulli for the
    // fraction; expected copies = w, realized multiset deterministic.
    // Weights are exact binary fractions so the ppm threshold is
    // bit-identical in any engine.
    "sp11_upsample" -> ((s, d) => {
      import s.implicits._
      val w = when($"lang" === "en", 2.5).when($"lang" === "de", 1.5)
        .when($"lang" === "zh", 0.25).when($"lang" === "fr", 1.0)
        .otherwise(3.75)
      Sampling.upsampleByWeight(load(s, d, "documents"), "doc_id", w)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct($"doc_id").as("n_docs"),
          max($"rep").as("max_rep"))
        .orderBy($"lang")
    }),

    // SP8: leakage-safe grouped split — the split hashes the SOURCE, so all
    // docs of a source share a fate and train/eval contamination through
    // within-source near-dups is structurally impossible. The oracle
    // reproduces the exact assignment from the md5-prefix hash.
    "sp8_grouped_split" -> ((s, d) => {
      import s.implicits._
      Sampling.groupedSplit(load(s, d, "documents"), "source",
          valPerMille = 150, testPerMille = 150)
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"source").as("n_sources"),
          sum($"n_chars").as("chars_total"))
        .orderBy($"split")
    }),

    // D14: near-dup cluster-size histogram — how concentrated duplication
    // is (cluster size → number of clusters, plus the docs they absorb);
    // the first report an analyst runs after a dedup pass. Clusters come
    // from the same candidates→verify→CC pipeline as d8; the iterative CC
    // isn't SQL-expressible, so the histogram is snapshot-pinned.
    "d14_cluster_sizes" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val docs = load(s, d, "documents")
      val pairs = Dedup.verifyJaccard(
        Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.3),
        docs, "doc_id", "text", 0.4)
      val clusters = Dedup.nearDupClusters(docs.select($"doc_id".as("id")), pairs)
      clusters.groupBy($"cluster").agg(count(lit(1)).as("sz"))
        .groupBy($"sz").agg(count(lit(1)).as("n_clusters"))
        .withColumn("docs_absorbed", ($"sz" - 1) * $"n_clusters")
        .orderBy($"sz")
    }),

    // V12: filtered ANN — the reference's filter + vector combination
    // (aisearch.py filter_str): the allowed-id set semi-joins INSIDE the
    // probed cells before the rerank (pre-filter, not discard-after-rank).
    // Recall vs the exact filtered top-k is the invariant the oracle pins.
    "v12_filtered_ann" -> ((s, d) => {
      import s.implicits._
      graft.functions.GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val probe = emb.filter($"vec_id" === 1L)
        .select($"embedding").head().getSeq[Float](0).toArray
      val allowed = emb.filter($"vec_id" % 2 === 0)
        .select($"vec_id".as("id"))
      val index = graft.operators.Similarity.buildIvf(s, emb, "vec_id",
        "embedding", nCells = 8, iters = 2)
      val got = graft.operators.Similarity.searchIvfFiltered(index, probe,
        nprobe = 3, k = 10, allowed).collect()
      val exact = graft.operators.Similarity.bruteForceTopK(
          emb.filter($"vec_id" % 2 === 0), "vec_id", "embedding", probe, 10)
        .collect().map(_.getLong(0)).toSet
      val gotIds = got.map(_.getLong(0)).toSet
      Seq((got.length == 10, got.forall(_.getLong(0) % 2 == 0),
        (gotIds intersect exact).size >= 5))
        .toDF("n_ok", "filter_respected", "recall_ok")
    }),

    // R1: BM25 lexical retrieval with AND semantics — the Spark-first form
    // of the reference's full-text search (aisearch.py search_documents,
    // SearchMode.ALL). Exact scores hash-matched at 4 dp; bounded top-k.
    "r1_bm25_topk" -> ((s, d) => {
      import s.implicits._
      Search.bm25TopK(load(s, d, "documents"), "doc_id", "text",
          Seq("spark", "hash", "window"), k = 10)
        .withColumnRenamed("id", "doc_id")
    }),

    // R2: hybrid retrieval — BM25 top-20 fused with cosine top-20 (probe =
    // embedding 0, joined on doc_id = vec_id) by reciprocal-rank fusion.
    "r2_hybrid_rrf" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val lex = Search.bm25TopK(load(s, d, "documents"), "doc_id", "text",
        Seq("spark", "hash", "window"), k = 20)
      val probe = load(s, d, "embeddings").filter($"vec_id" === 0L)
        .select($"embedding").head().getSeq[Float](0).toArray
      val vec = load(s, d, "embeddings")
        .select($"vec_id".as("id"),
          round(GraftFunctions.cosine_f32($"embedding", typedLit(probe)), 6).as("sim"))
        .orderBy($"sim".desc, $"id").limit(20)
      Search.rrfFuse(lex, vec, "id", "bm25", "sim", k = 10)
        .withColumnRenamed("id", "doc_id")
        .select($"doc_id", $"rrf")
    }),

    // R3: MMR diversified rerank (Carbonell & Goldstein 1998) — top-40
    // cosine candidates per 3 probe queries, greedily diversified
    // (λ=0.7, k=8) so near-duplicate passages don't crowd the context
    // window. Snapshot-pinned (the greedy recursion isn't
    // SQL-expressible); the diversity properties are spec-asserted
    // structurally in MmrSpec.
    "r3_mmr_rerank" -> ((s, d) => {
      import s.implicits._
      GraftFunctions.register(s)
      val emb = load(s, d, "embeddings")
      val cands = (0 to 2).map { qi =>
        val p = emb.filter($"vec_id" === qi.toLong)
          .select($"embedding").head().getSeq[Float](0).toArray
        emb.filter($"vec_id" > 2L)
          .select(lit(qi.toLong).as("query_id"), $"vec_id".as("id"),
            $"embedding".as("vec"),
            round(GraftFunctions.cosine_f32($"embedding", typedLit(p)), 6).as("sim"))
          .orderBy($"sim".desc, $"id").limit(40)
      }.reduce(_.unionByName(_))
      Search.mmrRerank(cands, "query_id", "id", "vec", "sim",
          k = 8, lambda = 0.7)
        .orderBy($"query_id", $"rank")
    }),

    // D13: corpus-overlap estimation — mergeable MinHash sketches of the
    // even/odd doc_id halves; the sketch (64 elementwise mins), the match
    // count, and the exact intersection/union all reproduce exactly in
    // SQL (integer hash family, power-of-two k ⇒ est is exact binary).
    "d13_corpus_overlap" -> ((s, d) => {
      import s.implicits._
      Dedup.corpusMinhashOverlap(load(s, d, "documents"), "doc_id", "text",
        $"doc_id" % 2 === 0)
    }),

    // SP9: token-budget-capped selection — per-lang best-first walk (hash
    // priority) keeps docs while the running token sum fits 2000; the
    // exact kept set and running totals hash-match the window recompute.
    "sp9_token_budget" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
        .withColumn("n_tokens",
          size(filter(split(trim($"text"), " "), t => length(t) > 0)).cast("long"))
        // unique priority: hash scaled + id — a hash tie would leave the
        // running-sum order ambiguous between engines
        .withColumn("prio", Sampling.portableHash($"doc_id") * 1000000L + $"doc_id")
      Sampling.takeTokenBudget(docs, "lang", "prio", "n_tokens", budget = 2000L)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), max($"tokens_through").as("tok_used"),
          min($"doc_id").as("min_doc"))
        .orderBy($"lang")
    }),

    // D11: paragraph-granularity exact dedup (C4/Dolma) — the corpus keeps
    // one instance of each distinct 12-token window and documents are
    // rebuilt from their survivors; keeper choice is min(id, p_idx) so the
    // whole rebuilt corpus hash-matches the QUALIFY-based recompute.
    "d11_paragraph_dedup" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      // lang is id-functional: carrying it through the dedup aggregates
      // replaces the join back to documents (one exchange + a broadcast
      // build fewer at any scale)
      Dedup.dropDuplicateParagraphs(docs, "doc_id", paraWindows($"text"),
          carryCols = Seq("lang"))
        .withColumnRenamed("id", "doc_id")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_paras").as("paras_kept"),
          sum(length($"text_deduped")).as("chars_kept"))
        .orderBy($"lang")
    }),

    // D12: ingest-time dedup against the existing corpus's fingerprint
    // index (docs with doc_id % 3 != 0 are "already ingested"; the rest
    // arrive as a batch). Bloom-negative paragraphs skip the join; the
    // result is exact, so the oracle is the plain anti-join + first-in-
    // batch rule.
    "d12_incremental_ingest" -> ((s, d) => {
      import s.implicits._
      val docs = load(s, d, "documents")
      val existing = docs.filter($"doc_id" % 3 =!= 0)
      val incoming = docs.filter($"doc_id" % 3 === 0)
      // the corpus fingerprint index is PERSISTED state in prod —
      // memoized as fixture so the timed region is the ingest pass
      val indexFps = Fixtures.cached(s, s"d12_fps:$d")(existing
        .select(explode(paraWindows($"text")).as("p_text"))
        .select(md5($"p_text").as("_fp")).distinct())
      val novel = Dedup.ingestNovelParagraphs(incoming, "doc_id",
        paraWindows($"text"), indexFps, expectedKeys = 10000L)
      novel.withColumnRenamed("id", "doc_id")
        .join(docs.select($"doc_id", $"lang"), Seq("doc_id"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("paras_novel"),
          countDistinct($"doc_id").as("docs_touched"),
          sum(length($"p_text")).as("chars_novel"))
        .orderBy($"lang")
    }),

    // D17: exact substring-span dedup (Lee et al. 2022 ExactSubstr) —
    // stride-1 8-token windows; duplicated spans merged gaps-and-islands
    // style and cut from every occurrence but the first. The md5 window
    // fingerprints, the min-(doc,pos) keeper rule, and the island merge
    // all reproduce exactly in SQL, so the full per-doc rebuilt corpus
    // hash-matches.
    "d17_substring_spans" -> ((s, d) => {
      import s.implicits._
      Dedup.removeDuplicateSpans(load(s, d, "documents"), "doc_id", "text",
          windowTokens = SpanWindow)
        .withColumnRenamed("id", "doc_id")
        .orderBy($"doc_id")
    })
  )

  /** t15's oracle: retrain the identical logistic regression in SQL —
    * same portable-bucket features, the same `epochs` full-batch GD
    * steps unrolled as CTE pairs, residuals rounded to 7 dp and weights
    * quantized to 6 dp exactly where the Scala trainer rounds (the
    * cross-engine discipline that stops double summation order from
    * compounding across epochs). Change [[TextAnalysis.trainQualityLr]],
    * change this with it.
    */
  /** [[t15Oracle]]'s graded twin: the LINEAR head (no sigmoid) retrained
    * in SQL with the same unrolled MATERIALIZED epochs and 7/6 dp
    * quantization, final score at 4 dp plus the clamped half-up int
    * grade — mirrors `TextAnalysis.trainQualityGrades`/
    * `scoreQualityGrades` exactly.
    */
  /** The shared retraining prefix of the graded-head oracles (t15b's
    * model, re-fit in SQL): everything through the final weight table
    * `w<epochs>`; the callers append their own read-out tail.
    */
  private def t15GradePrefix(buckets: Int, epochs: Int,
      lr: Double): String = {
    val b = new StringBuilder
    b ++= s"""WITH toks AS (
      | SELECT doc_id,
      |  (31*len(t) + 17*ascii(regexp_replace(t,'[^a-zA-Z0-9]','','g'))
      |   + 7*ascii(reverse(regexp_replace(t,'[^a-zA-Z0-9]','','g')))
      |   + 3*len(regexp_replace(t,'[^a-zA-Z0-9]','','g'))) % $buckets AS bk
      | FROM documents,
      |  unnest(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS u(t)),
      |pd AS (SELECT doc_id, bk, count(*) AS nb FROM toks GROUP BY 1, 2),
      |dn AS (SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n FROM pd GROUP BY 1),
      |feat AS MATERIALIZED (
      | SELECT p.doc_id, p.bk, p.nb * 1.0 / d.n AS x FROM pd p JOIN dn d USING (doc_id)
      | UNION ALL SELECT doc_id, $buckets AS bk, 1.0 AS x FROM dn),
      |seed AS MATERIALIZED (
      | SELECT f.doc_id, f.bk, f.x,
      |  CAST(CASE WHEN l.lang = 'en' THEN 3
      |            WHEN l.lang IN ('de','fr') THEN 2 ELSE 1 END
      |   + CASE WHEN l.n_chars % 2 = 0 THEN 1 ELSE 0 END
      |   + CASE WHEN l.doc_id % 7 = 0 THEN 1 ELSE 0 END AS DOUBLE) AS y
      | FROM feat f JOIN documents l USING (doc_id) WHERE l.doc_id % 3 = 0),
      |ns AS MATERIALIZED (SELECT count(DISTINCT doc_id) AS nseed FROM seed),
      |w0 AS (SELECT CAST(range AS BIGINT) AS bk, 0.0 AS w FROM range(${buckets + 1}))"""
      .stripMargin
    for (e <- 0 until epochs) {
      b ++= s""",
      |r$e AS MATERIALIZED (
      | SELECT s.doc_id, round(sum(s.x * w.w) - any_value(s.y), 7) AS r
      | FROM seed s JOIN w$e w USING (bk) GROUP BY 1),
      |w${e + 1} AS MATERIALIZED (
      | SELECT w.bk, round(w.w - $lr * coalesce(g.g, 0.0) / ns.nseed, 6) AS w
      | FROM w$e w LEFT JOIN (
      |   SELECT s.bk, sum(r.r * s.x) AS g FROM seed s JOIN r$e r USING (doc_id)
      |   GROUP BY 1) g USING (bk) CROSS JOIN ns)""".stripMargin
    }
    b.toString
  }

  private def t15bOracle(buckets: Int = 256, epochs: Int = 8,
      lr: Double = 0.5): String =
    t15GradePrefix(buckets, epochs, lr) + s"""
      |SELECT doc_id, grade_score,
      | CAST(least(greatest(round(grade_score, 0), 0), 5) AS INTEGER) AS grade
      |FROM (
      | SELECT f.doc_id, round(sum(f.x * w.w), 4) AS grade_score
      | FROM feat f JOIN w$epochs w USING (bk) GROUP BY 1)
      |ORDER BY doc_id""".stripMargin

  /** t15c: the same retrained model read out as the HELD-OUT per-cut
    * confusion/PR table (positive rule = planted grade ≥ 3), F1 from
    * the 4 dp-rounded precision/recall exactly as the Spark side
    * computes it, argmax-F1 row flagged by a window max.
    */
  private def t15cOracle(buckets: Int = 256, epochs: Int = 8,
      lr: Double = 0.5): String =
    t15GradePrefix(buckets, epochs, lr) + s""",
      |scored AS (
      | SELECT f.doc_id,
      |  CAST(least(greatest(round(round(sum(f.x * w.w), 4), 0), 0), 5)
      |   AS INTEGER) AS pred
      | FROM feat f JOIN w$epochs w USING (bk)
      | WHERE f.doc_id % 3 <> 0 GROUP BY 1),
      |truth AS (
      | SELECT doc_id,
      |  (CASE WHEN lang = 'en' THEN 3
      |        WHEN lang IN ('de','fr') THEN 2 ELSE 1 END
      |   + CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 0 END
      |   + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END) >= 3 AS pos
      | FROM documents WHERE doc_id % 3 <> 0),
      |j AS (SELECT s.pred, t.pos FROM scored s JOIN truth t USING (doc_id)),
      |cuts AS (SELECT CAST(range AS INTEGER) AS cut FROM range(0, 6)),
      |m AS (
      | SELECT c.cut,
      |  CAST(sum(CASE WHEN j.pred >= c.cut AND j.pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
      |  CAST(sum(CASE WHEN j.pred >= c.cut AND NOT j.pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
      |  CAST(sum(CASE WHEN j.pred < c.cut AND j.pos THEN 1 ELSE 0 END) AS BIGINT) AS fn,
      |  CAST(sum(CASE WHEN j.pred < c.cut AND NOT j.pos THEN 1 ELSE 0 END) AS BIGINT) AS tn
      | FROM cuts c CROSS JOIN j GROUP BY 1),
      |pr AS (
      | SELECT cut, tp, fp, fn, tn,
      |  round(CASE WHEN tp + fp = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fp) END, 4) AS prec,
      |  round(CASE WHEN tp + fn = 0 THEN 0.0 ELSE tp * 1.0 / (tp + fn) END, 4) AS rec
      | FROM m),
      |f AS (
      | SELECT cut, tp, fp, fn, tn, prec, rec,
      |  round(CASE WHEN prec + rec = 0 THEN 0.0
      |        ELSE 2 * prec * rec / (prec + rec) END, 4) AS f1
      | FROM pr)
      |SELECT cut, tp, fp, fn, tn, prec, rec, f1,
      | f1 = max(f1) OVER () AS is_optimal_f1
      |FROM f ORDER BY cut""".stripMargin

  private def t15Oracle(buckets: Int = 256, epochs: Int = 8,
      lr: Double = 2.0): String = {
    val b = new StringBuilder
    b ++= s"""WITH toks AS (
      | SELECT doc_id,
      |  (31*len(t) + 17*ascii(regexp_replace(t,'[^a-zA-Z0-9]','','g'))
      |   + 7*ascii(reverse(regexp_replace(t,'[^a-zA-Z0-9]','','g')))
      |   + 3*len(regexp_replace(t,'[^a-zA-Z0-9]','','g'))) % $buckets AS bk
      | FROM documents,
      |  unnest(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS u(t)),
      |pd AS (SELECT doc_id, bk, count(*) AS nb FROM toks GROUP BY 1, 2),
      |dn AS (SELECT doc_id, CAST(sum(nb) AS BIGINT) AS n FROM pd GROUP BY 1),
      |feat AS MATERIALIZED (
      | SELECT p.doc_id, p.bk, p.nb * 1.0 / d.n AS x FROM pd p JOIN dn d USING (doc_id)
      | UNION ALL SELECT doc_id, $buckets AS bk, 1.0 AS x FROM dn),
      |seed AS MATERIALIZED (
      | SELECT f.doc_id, f.bk, f.x,
      |  CASE WHEN l.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
      | FROM feat f JOIN documents l USING (doc_id) WHERE l.doc_id % 3 = 0),
      |ns AS MATERIALIZED (SELECT count(DISTINCT doc_id) AS nseed FROM seed),
      |w0 AS (SELECT CAST(range AS BIGINT) AS bk, 0.0 AS w FROM range(${buckets + 1}))"""
      .stripMargin
    // each w{e} is read twice (the residual join and the update) and
    // chains into the next epoch — MATERIALIZED, or a CTE-inlining
    // engine (DuckDB 1.0) re-evaluates the whole prefix 2^epochs times
    for (e <- 0 until epochs) {
      b ++= s""",
      |r$e AS MATERIALIZED (
      | SELECT s.doc_id, round(1.0/(1.0+exp(-sum(s.x * w.w))) - any_value(s.y), 7) AS r
      | FROM seed s JOIN w$e w USING (bk) GROUP BY 1),
      |w${e + 1} AS MATERIALIZED (
      | SELECT w.bk, round(w.w - $lr * coalesce(g.g, 0.0) / ns.nseed, 6) AS w
      | FROM w$e w LEFT JOIN (
      |   SELECT s.bk, sum(r.r * s.x) AS g FROM seed s JOIN r$e r USING (doc_id)
      |   GROUP BY 1) g USING (bk) CROSS JOIN ns)""".stripMargin
    }
    b ++= s"""
      |SELECT f.doc_id, round(1.0/(1.0+exp(-sum(f.x * w.w))), 4) AS quality_score
      |FROM feat f JOIN w$epochs w USING (bk)
      |GROUP BY 1 ORDER BY 1""".stripMargin
    b.toString
  }

  val oracles: Map[String, String] = Map(
    "t15_quality_classifier" -> t15Oracle(),
    "t15b_quality_grades" -> t15bOracle(),
    "t15c_grade_calibration" -> t15cOracle(),
    "d10_semdedup" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs, true AS partition_ok,
        | true AS pruned_some, true AS dropped_covered, true AS kept_separated
        |FROM embeddings""".stripMargin,
    "t10_dsir_weights" ->
      """WITH toks AS (
        | SELECT doc_id, lang = 'en' AS is_t,
        |  (31*len(t) + 17*ascii(regexp_replace(t,'[^a-zA-Z0-9]','','g'))
        |   + 7*ascii(reverse(regexp_replace(t,'[^a-zA-Z0-9]','','g')))
        |   + 3*len(regexp_replace(t,'[^a-zA-Z0-9]','','g'))) % 256 AS bk
        | FROM documents,
        |  unnest(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS u(t)),
        |per_doc AS (SELECT doc_id, bk, count(*) AS nb FROM toks GROUP BY 1, 2),
        |raw AS (SELECT bk, count(*) AS cr FROM toks GROUP BY 1),
        |tgt AS (SELECT bk, count(*) AS ct FROM toks WHERE is_t GROUP BY 1),
        |tot AS (SELECT count(*) AS nr, count(*) FILTER (is_t) AS nt FROM toks)
        |SELECT p.doc_id, CAST(sum(p.nb) AS BIGINT) AS n_tokens,
        | round(sum(p.nb * (ln((coalesce(ct, 0) + 1.0) / (nt + 256.0))
        |                 - ln((cr + 1.0) / (nr + 256.0)))), 4) AS log_w
        |FROM per_doc p JOIN raw USING (bk) LEFT JOIN tgt USING (bk) CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a12_approx_quantiles" ->
      """SELECT lang, count(*) AS n_docs, true AS p50_ok, true AS p90_ok
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "t11_unigram_ppl" ->
      """WITH toks AS (
        | SELECT doc_id, lang = 'en' AS is_r,
        |  (31*len(t) + 17*ascii(regexp_replace(t,'[^a-zA-Z0-9]','','g'))
        |   + 7*ascii(reverse(regexp_replace(t,'[^a-zA-Z0-9]','','g')))
        |   + 3*len(regexp_replace(t,'[^a-zA-Z0-9]','','g'))) % 256 AS bk
        | FROM documents,
        |  unnest(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS u(t)),
        |per_doc AS (SELECT doc_id, bk, count(*) AS nb FROM toks GROUP BY 1, 2),
        |ref AS (SELECT bk, count(*) FILTER (is_r) AS cref FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cref) AS BIGINT) AS nref FROM ref)
        |SELECT p.doc_id, CAST(sum(p.nb) AS BIGINT) AS n_tokens,
        | round(-sum(p.nb * ln((cref + 1.0) / (nref + 256.0))) / sum(p.nb), 4) AS nll
        |FROM per_doc p JOIN ref USING (bk) CROSS JOIN tot
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // rebuilds the identical bigram LM in SQL: same vocab tiebreak, same
    // pruning, same smoothing constants — change TextAnalysis.BigramLm,
    // change this with it
    "t13_bigram_ppl" ->
      """WITH docs AS (
        | SELECT doc_id, lang = 'en' AS is_r,
        |   list_filter(string_split(trim(text), ' '), x -> len(x) > 0) AS ts
        | FROM documents),
        |toks AS (
        | SELECT doc_id, is_r, i.i AS pos, ts[i.i] AS tok
        | FROM docs, generate_series(1, 10000) i(i) WHERE i.i <= len(ts)),
        |vocab AS (
        | SELECT tok, count(*) AS c FROM toks WHERE is_r GROUP BY tok
        | QUALIFY row_number() OVER (ORDER BY count(*) DESC, tok) <= 512),
        |consts AS (
        | SELECT nr.nref, vc.v, nr.nref - vc.sc AS oov
        | FROM (SELECT count(*) AS nref FROM toks WHERE is_r) nr,
        |      (SELECT count(*) AS v, CAST(sum(c) AS BIGINT) AS sc FROM vocab) vc),
        |big AS (
        | SELECT a.tok AS w1, b.tok AS w2, count(*) AS cb
        | FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
        | JOIN vocab va ON va.tok = a.tok JOIN vocab vb ON vb.tok = b.tok
        | WHERE a.is_r GROUP BY 1, 2 HAVING count(*) >= 2),
        |scored AS (
        | SELECT t.doc_id,
        |   CASE
        |     WHEN t.pos = 1 OR big.cb IS NULL
        |       THEN (CASE WHEN t.pos = 1 THEN 0.0 ELSE ln(0.4) END)
        |            + ln((coalesce(v.c, consts.oov) + 1.0) / (consts.nref + consts.v + 1.0))
        |     ELSE ln(big.cb * 1.0 / vp.c)
        |   END AS lp
        | FROM toks t
        | CROSS JOIN consts
        | LEFT JOIN vocab v ON v.tok = t.tok
        | LEFT JOIN toks p ON p.doc_id = t.doc_id AND p.pos = t.pos - 1
        | LEFT JOIN vocab vp ON vp.tok = p.tok
        | LEFT JOIN big ON big.w1 = p.tok AND big.w2 = t.tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | round(-sum(lp) / count(*), 4) AS nll
        |FROM scored GROUP BY 1 ORDER BY 1""".stripMargin,
    "t14_filter_config" ->
      """WITH r AS (
        | SELECT lang,
        |  n_chars >= 100 AS p1,
        |  len(list_filter(string_split(trim(text), ' '), x -> len(x) > 0)) <= 80 AS p2,
        |  lang IN ('en', 'de', 'fr', 'es') AS p3
        | FROM documents)
        |SELECT lang, count(*) AS n_docs,
        | CAST(sum(CASE WHEN NOT p1 THEN 1 ELSE 0 END) AS BIGINT) AS fail_min_chars,
        | CAST(sum(CASE WHEN NOT p2 THEN 1 ELSE 0 END) AS BIGINT) AS fail_max_words,
        | CAST(sum(CASE WHEN NOT p3 THEN 1 ELSE 0 END) AS BIGINT) AS fail_lang,
        | CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "t12_corpus_profile" ->
      """SELECT * FROM (
        | SELECT 'doc_id' AS column_name, count(*) AS n_rows,
        |  count(doc_id) AS n_nonnull, count(DISTINCT doc_id) AS n_distinct FROM documents
        | UNION ALL
        | SELECT 'lang', count(*), count(lang), count(DISTINCT lang) FROM documents
        | UNION ALL
        | SELECT 'source', count(*), count(source), count(DISTINCT source) FROM documents
        | UNION ALL
        | SELECT 'text', count(*), count(text), count(DISTINCT text) FROM documents
        | UNION ALL
        | SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars) FROM documents)
        |ORDER BY column_name""".stripMargin,
    "sp6_domain_mix" ->
      """WITH docs AS (
        | SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        | FROM documents),
        |per_domain AS (
        | SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS units_d,
        |  CASE lang WHEN 'en' THEN 3 ELSE 1 END AS share_d
        | FROM docs GROUP BY lang),
        |tot AS (SELECT CAST(sum(units_d) AS BIGINT) AS units_total FROM per_domain),
        |mix_plan AS (
        | SELECT lang, least(1000000, CAST(floor(
        |   (1000000 * ((units_total * (CAST(1 AS DOUBLE) / 2)) * share_d / 7))
        |   / greatest(units_d, 1)) AS BIGINT)) AS thr
        | FROM per_domain CROSS JOIN tot),
        |kept AS (
        | SELECT d.* FROM docs d JOIN mix_plan p USING (lang)
        | WHERE (d.doc_id * 2654435761) % 4294967296 % 1000000 < p.thr)
        |SELECT lang, count(*) AS n_kept, CAST(sum(n_tokens) AS BIGINT) AS tok_kept,
        | min(doc_id) AS first_id
        |FROM kept GROUP BY 1 ORDER BY 1""".stripMargin,
    "p3_corpus_build" ->
      """WITH RECURSIVE q AS (
        | SELECT doc_id, lang, text,
        |  CAST(len(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS BIGINT) AS mix_tokens
        | FROM documents
        | WHERE CAST(len(string_split_regex(trim(text),'\s+')) AS BIGINT) >= 10
        |  AND round(len(regexp_extract_all(text,'[.,;:!?]'))*1.0
        |      / greatest(len(string_split_regex(trim(text),'\s+')),1), 4) <= 0.3
        |  AND round((length(trim(text)) - (len(string_split_regex(trim(text),'\s+'))-1))*1.0
        |      / greatest(len(string_split_regex(trim(text),'\s+')),1), 4) <= 40.0
        | QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |per_domain AS (
        | SELECT lang, CAST(sum(mix_tokens) AS BIGINT) AS units_d,
        |  CASE lang WHEN 'en' THEN 3 ELSE 1 END AS share_d
        | FROM q GROUP BY lang),
        |tot AS (SELECT CAST(sum(units_d) AS BIGINT) AS units_total FROM per_domain),
        |mix_plan AS (
        | SELECT lang, least(1000000, CAST(floor(
        |   (1000000 * ((units_total * (CAST(1 AS DOUBLE) / 2)) * share_d / 7))
        |   / greatest(units_d, 1)) AS BIGINT)) AS thr
        | FROM per_domain CROSS JOIN tot),
        |kept AS (
        | SELECT q.doc_id, q.lang, q.mix_tokens,
        |  row_number() OVER (PARTITION BY q.lang ORDER BY q.doc_id) AS rn
        | FROM q JOIN mix_plan p USING (lang)
        | WHERE (q.doc_id * 2654435761) % 4294967296 % 1000000 < p.thr),
        |rec AS (
        | SELECT lang, rn, doc_id, mix_tokens,
        |  CAST(0 AS BIGINT) AS bin_id, mix_tokens AS bin_tokens
        | FROM kept WHERE rn = 1
        | UNION ALL
        | SELECT k.lang, k.rn, k.doc_id, k.mix_tokens,
        |  CASE WHEN r.bin_tokens + k.mix_tokens > 1024
        |       THEN r.bin_id + 1 ELSE r.bin_id END,
        |  CASE WHEN r.bin_tokens + k.mix_tokens > 1024
        |       THEN k.mix_tokens ELSE r.bin_tokens + k.mix_tokens END
        | FROM rec r JOIN kept k ON k.lang = r.lang AND k.rn = r.rn + 1)
        |SELECT lang, count(*) AS n_docs, max(bin_id) + 1 AS n_bins,
        | CAST(sum(mix_tokens) AS BIGINT) AS tok_total,
        | round(sum(mix_tokens) / ((max(bin_id) + 1) * 1024.0), 4) AS util
        |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin,
    "sp11_upsample" ->
      """WITH w AS (
        | SELECT doc_id, lang,
        |  CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.5 WHEN 'zh' THEN 0.25
        |            WHEN 'fr' THEN 1.0 ELSE 3.75 END AS wt
        | FROM documents),
        |c AS (
        | SELECT doc_id, lang,
        |  CAST(floor(wt) AS BIGINT) +
        |  CASE WHEN (doc_id * 2654435761) % 4294967296 % 1000000 <
        |            ((CAST(wt * 1000000 AS BIGINT) % 1000000) + 1000000) % 1000000
        |       THEN 1 ELSE 0 END AS copies
        | FROM w)
        |SELECT lang, CAST(sum(copies) AS BIGINT) AS n_rows,
        | CAST(count(*) FILTER (copies >= 1) AS BIGINT) AS n_docs,
        | CAST(max(copies) AS BIGINT) AS max_rep
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // tar_bytes mirrors Tar.archiveBytes term by term
    "sp12_tar_export" ->
      """WITH h AS (
        | SELECT doc_id, text,
        |  CAST(('0x' || substr(md5(doc_id || ':1'), 1, 8)) AS UBIGINT) AS hh
        | FROM documents),
        |s AS (SELECT doc_id, text, CAST(hh % 8 AS INTEGER) AS shard FROM h)
        |SELECT shard, count(*) AS n_docs,
        | CAST(sum(512 + ((octet_length(encode(text)) + 511) // 512) * 512)
        |      + 1024 AS BIGINT) AS tar_bytes,
        | true AS verified
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "sp10_export_shards" ->
      """WITH h AS (
        | SELECT doc_id, n_chars,
        |  CAST(('0x' || substr(md5(doc_id || ':1'), 1, 8)) AS UBIGINT) AS hh
        | FROM documents),
        |s AS (
        | SELECT doc_id, n_chars, CAST(hh % 8 AS INTEGER) AS shard,
        |  row_number() OVER (PARTITION BY hh % 8 ORDER BY hh, doc_id) AS pos
        | FROM h)
        |SELECT shard, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS n_tokens,
        | CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum,
        | true AS verified
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "sp7_epoch_shuffle" ->
      """WITH e AS (
        | SELECT doc_id, CAST(u.epoch AS INTEGER) AS epoch
        | FROM documents CROSS JOIN (SELECT unnest(range(2)) AS epoch) u),
        |h AS (
        | SELECT doc_id, epoch,
        |  CAST(('0x' || substr(md5(doc_id || ':' || epoch), 1, 8)) AS UBIGINT) AS hh
        | FROM e),
        |r AS (
        | SELECT doc_id, epoch, CAST(hh % 8 AS INTEGER) AS shard,
        |  row_number() OVER (PARTITION BY epoch, hh % 8 ORDER BY hh, doc_id) AS pos
        | FROM h)
        |SELECT epoch, shard, count(*) AS n_docs,
        | CAST(sum(pos * doc_id) AS BIGINT) AS order_checksum,
        | CAST(sum(CASE WHEN pos = 1 THEN doc_id END) AS BIGINT) AS first_doc
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "sp8_grouped_split" ->
      """WITH h AS (
        | SELECT *, CAST(('0x' || substr(md5(source), 1, 8)) AS UBIGINT) % 1000 AS hb
        | FROM documents)
        |SELECT CASE WHEN hb < 150 THEN 'test'
        |            WHEN hb < 300 THEN 'val' ELSE 'train' END AS split,
        | count(*) AS n_docs, count(DISTINCT source) AS n_sources,
        | CAST(sum(n_chars) AS BIGINT) AS chars_total
        |FROM h GROUP BY 1 ORDER BY 1""".stripMargin,
    "v12_filtered_ann" ->
      "SELECT true AS n_ok, true AS filter_respected, true AS recall_ok",
    "r1_bm25_topk" ->
      """WITH toks AS (
        | SELECT doc_id AS id, t AS term FROM documents,
        |  unnest(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS u(t)),
        |lens AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
        |tf AS (SELECT id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark','hash','window') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        | SELECT tf.id,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))), 4) AS bm25,
        |  count(*) AS matched
        | FROM tf JOIN dfq USING (term) JOIN lens USING (id) CROSS JOIN stats
        | GROUP BY 1)
        |SELECT id AS doc_id, bm25 FROM sc WHERE matched = 3
        |ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,
    "r2_hybrid_rrf" ->
      """WITH toks AS (
        | SELECT doc_id AS id, t AS term FROM documents,
        |  unnest(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS u(t)),
        |lens AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
        |tf AS (SELECT id, term, count(*) AS tf FROM toks
        |       WHERE term IN ('spark','hash','window') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (
        | SELECT tf.id,
        |  round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        |    * (tf * (1.2 + 1)) / (tf + 1.2 * ((1 - 0.75) + 0.75 * dl / avgdl))), 4) AS bm25,
        |  count(*) AS matched
        | FROM tf JOIN dfq USING (term) JOIN lens USING (id) CROSS JOIN stats
        | GROUP BY 1),
        |lex AS (SELECT id, bm25 FROM sc WHERE matched = 3 ORDER BY bm25 DESC, id LIMIT 20),
        |probe AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
        |vec AS (
        | SELECT vec_id AS id,
        |  round(list_aggregate(list_transform(list_zip(embedding, pe),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
        |   / (sqrt(list_aggregate(list_transform(list_zip(embedding, embedding),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))
        |    * sqrt(list_aggregate(list_transform(list_zip(pe, pe),
        |          p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum'))), 6) AS sim
        | FROM embeddings CROSS JOIN probe ORDER BY sim DESC, id LIMIT 20),
        |ra AS (SELECT id, row_number() OVER (ORDER BY bm25 DESC, id) AS rank_a FROM lex),
        |rb AS (SELECT id, row_number() OVER (ORDER BY sim DESC, id) AS rank_b FROM vec),
        |f AS (
        | SELECT coalesce(ra.id, rb.id) AS doc_id,
        |  round(coalesce(1.0 / (60 + rank_a), 0) + coalesce(1.0 / (60 + rank_b), 0), 6) AS rrf
        | FROM ra FULL OUTER JOIN rb ON ra.id = rb.id)
        |SELECT doc_id, rrf FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "d13_corpus_overlap" ->
      """WITH w AS (
        | SELECT doc_id % 2 = 0 AS in_a,
        |  list_filter(string_split(trim(text),' '), x -> len(x) > 0) AS toks
        | FROM documents),
        |sh AS (
        | SELECT in_a, array_to_string(w.toks[u.j : u.j + 2], ' ') AS sh
        | FROM w JOIN (SELECT unnest(range(1, 10000)) AS j) u ON u.j <= len(w.toks) - 2),
        |v AS (SELECT in_a, sh, CAST(('0x' || substr(md5(sh), 1, 8)) AS UBIGINT) AS v FROM sh),
        |sig AS (
        | SELECT in_a, u.i,
        |  min((((u.i * 2654435761) % 1073741824 + 1) * v.v + u.i * 40503) % 2147483647) AS m
        | FROM v CROSS JOIN (SELECT unnest(range(64)) AS i) u GROUP BY 1, 2),
        |mm AS (
        | SELECT count(*) AS matches FROM sig a JOIN sig b
        | ON a.i = b.i AND a.in_a AND NOT b.in_a AND a.m = b.m),
        |ex AS (
        | SELECT sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS inter,
        |  count(*) AS union_n, sum(a) AS n_a, sum(b) AS n_b
        | FROM (SELECT sh, max(CASE WHEN in_a THEN 1 ELSE 0 END) AS a,
        |        max(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS b FROM v GROUP BY 1))
        |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
        | CAST(inter AS BIGINT) AS inter, CAST(union_n AS BIGINT) AS union_n,
        | CAST(matches AS BIGINT) AS matches, matches / 64.0 AS est_jaccard
        |FROM ex CROSS JOIN mm""".stripMargin,
    "sp9_token_budget" ->
      """WITH d AS (
        | SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split(trim(text),' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |  (doc_id * 2654435761) % 4294967296 * 1000000 + doc_id AS prio
        | FROM documents),
        |r AS (
        | SELECT *, sum(n_tokens) OVER (PARTITION BY lang ORDER BY prio
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        | FROM d)
        |SELECT lang, count(*) AS n_kept, CAST(max(run) AS BIGINT) AS tok_used,
        | min(doc_id) AS min_doc
        |FROM r WHERE run <= 2000 GROUP BY 1 ORDER BY 1""".stripMargin,
    "d11_paragraph_dedup" ->
      s"""WITH w AS (
         | SELECT doc_id, lang,
         |  list_filter(string_split(trim(text),' '), x -> len(x) > 0) AS toks
         | FROM documents),
         |p AS (
         | SELECT w.doc_id, w.lang, u.g AS p_idx,
         |  array_to_string(w.toks[u.g*$ParaWords+1 : u.g*$ParaWords+$ParaWords], ' ') AS p_text
         | FROM w JOIN (SELECT unnest(range(10000)) AS g) u ON u.g*$ParaWords < len(w.toks)),
         |kept AS (
         | SELECT doc_id, lang, p_idx, p_text FROM p
         | QUALIFY row_number() OVER (PARTITION BY md5(p_text) ORDER BY doc_id, p_idx) = 1),
         |docs2 AS (
         | SELECT doc_id, lang, count(*) AS n_paras,
         |  string_agg(p_text, ' ' ORDER BY p_idx) AS txt
         | FROM kept GROUP BY 1, 2)
         |SELECT lang, count(*) AS n_docs, CAST(sum(n_paras) AS BIGINT) AS paras_kept,
         | CAST(sum(length(txt)) AS BIGINT) AS chars_kept
         |FROM docs2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "d12_incremental_ingest" ->
      s"""WITH w AS (
         | SELECT doc_id, lang,
         |  list_filter(string_split(trim(text),' '), x -> len(x) > 0) AS toks
         | FROM documents),
         |p AS (
         | SELECT w.doc_id, w.lang, u.g AS p_idx,
         |  array_to_string(w.toks[u.g*$ParaWords+1 : u.g*$ParaWords+$ParaWords], ' ') AS p_text
         | FROM w JOIN (SELECT unnest(range(10000)) AS g) u ON u.g*$ParaWords < len(w.toks)),
         |ex AS (SELECT DISTINCT md5(p_text) AS fp FROM p WHERE doc_id % 3 != 0),
         |novel AS (
         | SELECT * FROM p
         | WHERE doc_id % 3 = 0 AND md5(p_text) NOT IN (SELECT fp FROM ex)
         | QUALIFY row_number() OVER (PARTITION BY md5(p_text) ORDER BY doc_id, p_idx) = 1)
         |SELECT lang, count(*) AS paras_novel, count(DISTINCT doc_id) AS docs_touched,
         | CAST(sum(length(p_text)) AS BIGINT) AS chars_novel
         |FROM novel GROUP BY 1 ORDER BY 1""".stripMargin,
    "d17_substring_spans" ->
      s"""WITH w AS (
         | SELECT doc_id, list_filter(string_split(trim(text),' '), x -> len(x) > 0) AS toks
         | FROM documents),
         |win AS (
         | SELECT w.doc_id, u.p AS p,
         |  md5(array_to_string(w.toks[u.p+1 : u.p+$SpanWindow], ' ')) AS f
         | FROM w JOIN (SELECT unnest(range(512)) AS p) u
         |   ON u.p + $SpanWindow <= len(w.toks)),
         |cov AS (
         | SELECT doc_id, p AS s, p + $SpanWindow - 1 AS e
         | FROM (SELECT doc_id, p, f,
         |         row_number() OVER (PARTITION BY f ORDER BY doc_id, p) AS rn,
         |         count(*) OVER (PARTITION BY f) AS cnt
         |       FROM win)
         | WHERE cnt > 1 AND rn > 1),
         |isl AS (
         | SELECT doc_id, s, e,
         |  sum(CASE WHEN pm IS NULL OR s > pm + 1 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         | FROM (SELECT doc_id, s, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY s
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
         |       FROM cov)),
         |spans AS (SELECT doc_id, g, min(s) AS ss, max(e) AS se FROM isl GROUP BY 1, 2),
         |tok AS (
         | SELECT w.doc_id, u.i AS i, w.toks[u.i+1] AS t
         | FROM w JOIN (SELECT unnest(range(512)) AS i) u ON u.i < len(w.toks)),
         |keptt AS (
         | SELECT t.doc_id, t.i, t.t FROM tok t
         | WHERE NOT EXISTS (SELECT 1 FROM spans sp
         |   WHERE sp.doc_id = t.doc_id AND t.i BETWEEN sp.ss AND sp.se)),
         |agg AS (SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS text_clean
         |        FROM keptt GROUP BY 1),
         |sp2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         |         CAST(sum(se - ss + 1) AS BIGINT) AS toks_removed
         |        FROM spans GROUP BY 1)
         |SELECT d.doc_id, coalesce(sp2.n_spans, 0) AS n_spans,
         | coalesce(sp2.toks_removed, 0) AS toks_removed,
         | coalesce(agg.text_clean, '') AS text_clean
         |FROM documents d LEFT JOIN sp2 USING (doc_id) LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
  )
}
