package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, TimestampNTZType, TimestampType}

/** Table access helpers for the driver-generated test data
  * (`/root/testdata/sf*`; see TESTDATA.md). All queries take the sf
  * directory as a parameter so the same plan runs at any scale factor.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Sessions must set spark.sql.legacy.parquet.nanosAsLong=true: older
    * generator runs stored the events table as TIMESTAMP(NANOS), which
    * Spark's vectorized reader rejects as a timestamp type. We read it as
    * long and rebuild a microsecond TimestampType column (exact — the
    * generator emits µs-aligned values).
    */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // graft's SQL functions and planner strategies (the persisted
      // routed graph search plans only through them)
      .withExtensions(new GraftExtensions)
      // Checkpoint/broadcast/shuffle state is freed by the ContextCleaner,
      // which only learns an RDD is dead after a GC collects its reference.
      // A large-heap driver may not GC for the life of a mid-sized job, so
      // eagerly-checkpointed blocks (the dedup family) accumulate until
      // storage pressure evicts them mid-query. Spark's own periodic-GC
      // escape hatch defaults to 30min; 2min bounds the accumulation
      // window for long multi-query sessions at negligible cost.
      .config("spark.cleaner.periodicGC.interval", "2min")
      // local files get their permissions through java.nio instead of a
      // forked `chmod` per file, `.crc` file and directory
      .config("spark.hadoop.fs.file.impl", classOf[graft.core.NioLocalFileSystem].getName)

  /** Normalize the `ts` column to session-local TimestampType regardless of
    * how the generator wrote it: TIMESTAMP(NANOS) (read as long under the
    * legacy flag), TIMESTAMP_NTZ (µs, no zone — current generator), or plain
    * TIMESTAMP all become the same µs instants under the UTC session zone.
    * Downstream epoch extractors (`unix_millis`/`unix_micros`) require
    * TimestampType and reject NTZ, so this is the one place the difference
    * is absorbed.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Key/count columns the whole query surface (and every DuckDB oracle's
    * `CAST(… AS BIGINT)`) assumes are 64-bit. Today's generator writes them
    * as int64; narrowing them in a future regeneration would silently flip
    * ~100 result schemas (the ts encoding did exactly that at round 8), so
    * widen any integral narrowing back to long at the source. Identity on
    * current data.
    */
  private val LongColumns = Set(
    "doc_id", "vec_id", "event_id", "user_id", "n_chars",
    "o_orderkey", "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
    "l_quantity", "c_custkey", "s_suppkey", "p_partkey")
  // NOT listed: the columns that are int32 in the current parquet (label,
  // l_linenumber, the nation/region keys, p_size) — both sides (our
  // queries and the oracles reading the raw files) already agree on that
  // width, and widening only our side breaks schema parity (measured:
  // 3 oracle dtype mismatches). The guard covers exactly the columns
  // whose int64-ness the oracles bake in via CAST(... AS BIGINT).

  private def normalizeInts(df: DataFrame): DataFrame = {
    val narrow = df.schema.filter(f => LongColumns(f.name) &&
      (f.dataType == IntegerType || f.dataType == ShortType || f.dataType == ByteType))
    narrow.foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast("long")))
  }

  // Memoized per (session, sfDir, table): `spark.read.parquet` performs
  // file listing + footer schema read + analysis on EVERY call, and the
  // multi-table queries pay it 4-6x per execution — measured ~0.42s of
  // q05's ~1.0s wall at sf0.1 (fresh-build 0.98s vs reused-DataFrame
  // 0.56s; SCALING.md "Constant-factor floor vs the DuckDB anchor").
  // Production engines hold this in a catalog; here the analyzed
  // DataFrame is the catalog entry. Safe because every load
  // target is driver-generated read-only testdata (mutable job outputs go
  // through spark.read directly, never through load). WeakHashMap keyed
  // on the session so stopped sessions don't pin their plans.
  private val loadCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[(String, String), DataFrame]]())

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val perSession = loadCache.synchronized {
      var m = loadCache.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]
        loadCache.put(spark, m)
        // First contact with a session: make graft's function registry
        // available to every gate that reads a table (gates reference
        // call_function names like graft_para_windows without a session
        // at hand to register on).
        graft.functions.GraftFunctions.register(spark)
      }
      m
    }
    perSession.getOrElseUpdate((sfDir, name),
      normalizeInts(normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))))
  }

  // keyed by (path, cols) with the file fingerprint INSIDE the value: a
  // rewrite of the path replaces (never accumulates beside) the old entry,
  // so a long-lived process rewriting one table holds exactly one entry per
  // (path, cols). DETERMINISTIC results memoize — including the negative
  // "this fingerprint has no integral stats" (or the call re-walks every
  // footer on every call forever); a transient IO error never caches, so
  // it cannot pin the aggregate fallback.
  private val statsMemo = new scala.collection.concurrent.TrieMap[
    (String, Seq[String]), (String, Option[Map[String, (Long, Long)]])]()

  /** The footer walk's OWN deterministic-negative sentinel — a dedicated
    * class so no third-party exception can impersonate it.
    */
  private final class NoIntegralStats(msg: String)
      extends RuntimeException(msg)

  private[graft] def statsMemoSize: Int = statsMemo.size

  /** Global column min/max straight from parquet FOOTER statistics — the
    * lakehouse stats path (Delta/Iceberg keep exactly these in table
    * metadata; plain parquet keeps them per row group): ZERO Spark jobs,
    * the driver reads only footers. Exact — footer min/max over non-null
    * values equals `agg(min, max)` — so consumers like
    * [[graft.pipeline.ZOrder.withZValue]] produce bit-identical output
    * either way. Returns None (caller falls back to the aggregate) when
    * any requested column lacks integral stats in any row group.
    * Memoized per (path, cols) validated by file fingerprint — the
    * fingerprint is the files' (name, length, mtime) list, so an
    * in-process rewrite of the path gets FRESH stats (a lifetime memo
    * would hand back the old min/max and silently mis-bucket the new
    * data) and EVICTS the superseded entry (the memo stays bounded at one
    * entry per live (path, cols) however many rewrites land); the same
    * discipline as a catalog stats cache keyed by table snapshot. Only
    * successful footer walks memoize — a transient IO failure falls back
    * to the aggregate ONCE, not permanently. The driver-side listing +
    * footer walk is bounded by file count, which a 100 TB deployment
    * bounds through its table format's manifest anyway.
    */
  /** Shared listing for the footer-stats helpers: the path's top-level
    * `.parquet` files plus a (name, length, mtime) fingerprint — built
    * from the SAME FileStatus array `listStatus` already returned (no
    * second per-file RPC). None on IO trouble OR when a directory holds
    * no top-level data files: a nested layout (partitionBy subdirs)
    * looks identical to an empty table from here, and "I can't tell"
    * must never read as "zero rows" to a size gate.
    */
  private def listParquetFiles(conf: org.apache.hadoop.conf.Configuration,
      path: String): Option[(Array[org.apache.hadoop.fs.Path], String)] =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val statuses =
        if (fs.getFileStatus(p).isDirectory) {
          val ls = fs.listStatus(p)
            .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          if (ls.isEmpty) return None
          ls
        } else Array(fs.getFileStatus(p))
      val fp = statuses.map(st =>
          s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
        .sorted.mkString(",")
      Some((statuses.map(_.getPath), fp))
    } catch { case scala.util.control.NonFatal(_) => None }

  def parquetLongStats(spark: SparkSession, path: String,
      cols: Seq[String]): Option[Map[String, (Long, Long)]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = listParquetFiles(conf, path)
    if (listed.isEmpty) return None
    val (files, fingerprint) = listed.get
    statsMemo.get((path, cols)) match {
      case Some((fp, cached)) if fp == fingerprint => return cached
      case _ => ()
    }
    // Some(result) = deterministic walk outcome (cacheable, even when the
    // result is "no stats"); None = transient failure (never cached)
    val walked: Option[Option[Map[String, (Long, Long)]]] =
      try {
        var acc = Map.empty[String, (Long, Long)]
        files.foreach { f =>
          val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
          try {
            reader.getFooter.getBlocks.forEach { b =>
              b.getColumns.forEach { c =>
                val name = c.getPath.toDotString
                if (cols.contains(name)) {
                  val (mn, mx) = c.getStatistics match {
                    case s: org.apache.parquet.column.statistics.LongStatistics
                        if s.hasNonNullValue => (s.getMin, s.getMax)
                    case s: org.apache.parquet.column.statistics.IntStatistics
                        if s.hasNonNullValue => (s.getMin.toLong, s.getMax.toLong)
                    case _ => throw new NoIntegralStats(
                      s"no integral stats for $name in $f")
                  }
                  acc = acc.updated(name, acc.get(name)
                    .map { case (a, z) => (math.min(a, mn), math.max(z, mx)) }
                    .getOrElse((mn, mx)))
                }
              }
            }
          } finally reader.close()
        }
        Some(if (cols.forall(acc.contains)) Some(acc) else None)
      } catch {
        // the walk's OWN sentinel for a row group lacking integral
        // stats — deterministic for this fingerprint, cache the negative.
        // A dedicated private class, NOT IllegalStateException: HTTP/FS
        // client layers throw transient ISEs ("Connection pool shut
        // down") out of ParquetFileReader.open, and classifying those as
        // the deterministic negative would pin the aggregate fallback
        case _: NoIntegralStats => Some(None)
        // IO/transient: do not cache, retry next call
        case scala.util.control.NonFatal(_) => None
      }
    walked match {
      // replace-on-write: the fingerprint lives in the value, so a rewrite
      // of the path swaps the entry instead of growing the memo
      case Some(result) => statsMemo.update((path, cols), (fingerprint, result))
      // a transient failure is never cached — and a stale entry for a
      // superseded fingerprint is dropped rather than left to shadow the
      // next successful read
      case None => statsMemo.remove((path, cols))
    }
    walked.flatten
}

  private val rowCountMemo =
    new scala.collection.concurrent.TrieMap[String, (String, Long)]()

  /** Exact table row count straight from parquet FOOTER metadata (every
    * row group records its row count) — ZERO Spark jobs, same lakehouse
    * stats posture and fingerprint-validated replace-on-write memo as
    * [[parquetLongStats]]. None on any IO trouble (caller falls back to
    * `df.count()`). Feeds size gates that pick a plan BEFORE running it
    * (e.g. [[graft.operators.TurnMergeOp.merge]]'s kernel-vs-window
    * choice) without spending a job on the probe.
    */
  def parquetRowCount(spark: SparkSession, path: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val (files, fingerprint) = listParquetFiles(conf, path) match {
        case Some(x) => x
        // includes the no-top-level-files directory (nested/partitioned
        // layout): Some(0) there would tell a size gate "tiny table"
        // about an arbitrarily large one
        case None => return None
      }
      rowCountMemo.get(path) match {
        case Some((fp, n)) if fp == fingerprint => return Some(n)
        case _ => ()
      }
      var n = 0L
      files.foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.forEach(b => n += b.getRowCount)
        finally reader.close()
      }
      rowCountMemo.update(path, (fingerprint, n))
      Some(n)
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
