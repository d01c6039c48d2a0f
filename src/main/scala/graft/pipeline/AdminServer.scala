package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's admin/jobs dashboard API (api/admin.py:243-400) over the
  * engine's own tables: `/api/jobs` lists run summaries from the
  * [[IncrementalIndexer.writeRunLog]] directory, `/api/files` lists
  * per-parent state rows, and `POST /api/files/unblock` clears a parent's
  * blocked flag and resets its attempt counter so the next incremental run
  * reprocesses it.
  *
  * Where the reference loads every log blob into Python lists and
  * sorts/pages in process, here sort + slice run as a Spark plan — the
  * proven `w6_sort_page` shape (orderBy + offset + limit, which plans as
  * TakeOrderedAndProject, never a full materialized sort) — so the same
  * endpoint keeps working when the log table outgrows one machine.
  * Response envelope matches the reference: {items, total, page, pageSize}.
  */
object AdminServer {

  private val runSchema = StructType(Seq(
    StructField("runId", StringType),
    StructField("sourceDocs", LongType),
    StructField("processed", LongType),
    StructField("skippedNoChange", LongType),
    StructField("skippedBlocked", LongType),
    StructField("purgedParents", LongType),
    StructField("chunksWritten", LongType),
    StructField("indexSize", LongType)))

  /** Client input the handlers reject with a 400 (vs a 500 for real bugs). */
  private final class BadRequest(val msg: String) extends RuntimeException(msg)

  /** Start serving on `port` (0 ⇒ ephemeral). Reads are per-request — the
    * dashboard always sees the latest published state. `runJob` (when
    * given) backs `POST /api/jobs/run?runId=…`, the reference's HTTP
    * trigger for an indexer run (main.py:276-330): the callback executes
    * one run and its summary is returned AND visible in the next
    * `/api/jobs` listing (the callback is expected to write the run log).
    *
    * Binds LOOPBACK by default — the mutating endpoints (run trigger,
    * unblock) must not be reachable off-host unless the deployer opts in
    * via `bindAddress`, and an off-host bind should come with `apiKey`:
    * when set, POST endpoints require a matching `X-API-KEY` header (the
    * reference guards its mutating admin routes the same way,
    * api/admin.py X-API-KEY dependency).
    */
  def start(port: Int, spark: SparkSession, stateDir: String, logDir: String,
      version: String = "dev",
      runJob: Option[String => IncrementalIndexer.RunSummary] = None,
      bindAddress: String = "127.0.0.1",
      apiKey: Option[String] = None): HttpServer = {
    val server = HttpServer.create(
      new InetSocketAddress(java.net.InetAddress.getByName(bindAddress), port), 0)

    // constant-time compare: a key check must not leak prefix length
    def authorized(ex: HttpExchange): Boolean = apiKey.forall { k =>
      Option(ex.getRequestHeaders.getFirst("X-API-KEY")).exists(h =>
        java.security.MessageDigest.isEqual(h.getBytes(UTF_8), k.getBytes(UTF_8)))
    }

    // liveness/readiness + version (main.py:255-272, admin.py:193-199)
    server.createContext("/healthz", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestURI.getPath != "/healthz") (404, """{"error":"not found"}""")
      else (200, """{"status":"ok"}""")
    })
    server.createContext("/readyz", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestURI.getPath != "/readyz") (404, """{"error":"not found"}""")
      else if (spark.sparkContext.isStopped) (503, """{"status":"not ready"}""")
      else (200, """{"status":"ready"}""")
    })
    server.createContext("/api/version", (ex: HttpExchange) => handle(ex) {
      if (ex.getRequestURI.getPath != "/api/version") (404, """{"error":"not found"}""")
      else (200, json("version" -> version))
    })

    server.createContext("/api/jobs", (ex: HttpExchange) => handle(ex) {
      val path = ex.getRequestURI.getPath
      // the JDK server matches contexts by PREFIX; reject anything but the
      // exact resources so /api/jobsanything is a 404, not a listing
      if (path == "/api/jobs/run") {
        if (ex.getRequestMethod != "POST") (405, """{"error":"method not allowed"}""")
        else if (!authorized(ex)) (401, """{"error":"unauthorized"}""")
        else runJob match {
          case None => (404, """{"error":"no job runner configured"}""")
          case Some(run) =>
            val id = params(ex).getOrElse("runId", "")
            if (id.isEmpty || id.length > 200)
              (400, """{"error":"runId is required"}""")
            else {
              (200, mapper.writeValueAsString(run(id)))
            }
        }
      } else if (path != "/api/jobs") (404, """{"error":"not found"}""")
      else if (ex.getRequestMethod != "GET") (405, """{"error":"method not allowed"}""")
      else {
        val runsDir = s"$logDir/runs"
        val df =
          if (graft.core.Fs.exists(spark, runsDir))
            spark.read.schema(runSchema).json(runsDir)
          else spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], runSchema)
        listing(df, params(ex), defaultSort = "runId", tieBreak = "runId")
      }
    })

    server.createContext("/api/files", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      handle(ex) {
        if (path == "/api/files/unblock") {
          if (ex.getRequestMethod != "POST") (405, """{"error":"method not allowed"}""")
          else if (!authorized(ex)) (401, """{"error":"unauthorized"}""")
          else unblock(spark, stateDir, params(ex))
        } else if (path != "/api/files") {
          (404, """{"error":"not found"}""")
        } else if (ex.getRequestMethod != "GET") {
          (405, """{"error":"method not allowed"}""")
        } else {
          val p = params(ex)
          val df0 = IncrementalIndexer.readState(spark, stateDir)
          val df = p.get("blocked") match {
            case Some("true") => df0.filter(coalesce(col("blocked"), lit(false)))
            case Some("false") => df0.filter(!coalesce(col("blocked"), lit(false)))
            case Some(_) => null // invalid → caught below
            case None => df0
          }
          if (df == null) (400, """{"error":"blocked must be true or false"}""")
          else listing(df, p, defaultSort = "parent_id", tieBreak = "parent_id")
        }
      }
    })

    // a pool, NOT the default single dispatcher thread: the synchronous
    // runJob callback (an entire indexer run) and the listings' Spark jobs
    // must not block /healthz — a liveness probe that times out mid-run
    // would restart the service (main.py keeps probes responsive the same
    // way via the ASGI worker pool). Daemon threads: server.stop(0) leaves
    // no JVM-pinning remnants.
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8,
      (r: Runnable) => {
        val t = new Thread(r, "admin-http")
        t.setDaemon(true)
        t
      }))
    server.start()
    server
  }

  // ------------------------------------------------------------------ pieces

  private def handle(ex: HttpExchange)(body: => (Int, String)): Unit =
    try {
      val (status, payload) =
        try body
        catch {
          case b: BadRequest => (400, json("error" -> b.msg))
          case t: Throwable =>
            // log server-side; the body must not echo internal class
            // names/paths back to the client
            System.err.println(s"[admin] 500 on ${ex.getRequestURI}: $t")
            (500, """{"error":"internal error"}""")
        }
      val bytes = payload.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
    } finally ex.close()

  private def params(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").filter(_.contains("=")).map { kv =>
      val Array(k, v) = kv.split("=", 2)
      // malformed percent-encoding (?x=%zz) is invalid CLIENT input → 400
      try java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      catch { case _: IllegalArgumentException =>
        throw new BadRequest("malformed percent-encoding in query string") }
    }.toMap
  }

  /** The listing search predicate: a case-insensitive substring scan over
    * ALL columns. The reference substring-matches the JSON dump of each
    * item, where keys/punctuation separate fields; the declarative analog
    * joins the stringified columns with a \u0001 so a query never matches
    * a substring spanning a column boundary. Public because the oracle
    * gate (`w8_admin_page`) runs the exact plan the HTTP handler serves.
    */
  def searchFilter(df: DataFrame, search: Option[String]): DataFrame =
    search.filter(_.nonEmpty) match {
      case Some(q) =>
        val hay = lower(concat_ws("\u0001", df.columns.map(c => col(c).cast("string")): _*))
        // Locale.ROOT matches Spark's locale-agnostic lower(): default-locale
        // lowercasing on a Turkish JVM maps 'I' to dotless ı and never matches.
        df.filter(hay.contains(q.toLowerCase(java.util.Locale.ROOT)))
      case None => df
    }

  /** The listing page plan: deterministic order by (sortField, tieBreak) +
    * offset/limit slice — plans as TakeOrderedAndProject, never a full
    * materialized sort. Shared by the HTTP handlers and the oracle gate.
    */
  def pageSlice(df: DataFrame, sortField: String, desc: Boolean,
      tieBreak: String, offset: Int, pageSize: Int): DataFrame = {
    val key: Column = if (desc) col(sortField).desc else col(sortField).asc
    df.orderBy(key, col(tieBreak)).offset(offset).limit(pageSize)
  }

  /** Sort + slice one listing DataFrame per the reference's query contract:
    * page ≥ 1, 1 ≤ pageSize ≤ 100, sortField a real column, sortOrder
    * asc|desc, `search` a case-insensitive substring over all columns.
    */
  private def listing(df: DataFrame, p: Map[String, String],
      defaultSort: String, tieBreak: String): (Int, String) = {
    val page = p.getOrElse("page", "1")
    val pageSize = p.getOrElse("pageSize", "20")
    val sortField = p.getOrElse("sortField", defaultSort)
    val sortOrder = p.getOrElse("sortOrder", "desc")
    // bounded digit counts: a longer value is invalid CLIENT input and must
    // 400, not overflow toInt into a 500
    if (!page.matches("\\d{1,9}") || page.toInt < 1)
      return (400, """{"error":"page must be >= 1"}""")
    if (!pageSize.matches("\\d{1,9}") || pageSize.toInt < 1 || pageSize.toInt > 100)
      return (400, """{"error":"pageSize must be in [1, 100]"}""")
    if (!df.columns.contains(sortField))
      return (400, json("error" -> s"unknown sortField $sortField"))
    if (sortOrder != "asc" && sortOrder != "desc")
      return (400, """{"error":"sortOrder must be asc or desc"}""")
    // offset in Long: page=999999999&pageSize=100 passes the digit guards
    // but overflows Int multiplication into a negative offset (a 500);
    // anything past Int.MaxValue is beyond any real listing → clean 400
    val offset = (page.toLong - 1L) * pageSize.toLong
    if (offset > Int.MaxValue)
      return (400, """{"error":"page out of range"}""")

    // one evaluation feeds both the total and the page slice (count +
    // collect over the raw plan would scan the source twice)
    val once = searchFilter(df, p.get("search")).localCheckpoint(true)
    val total = once.count()
    val rows = pageSlice(once, sortField, desc = sortOrder == "desc",
      tieBreak, offset.toInt, pageSize.toInt).collect()
    val items = rows.map(r => ListMap(r.schema.fieldNames.zip(r.toSeq): _*))
    (200, json(
      "items" -> items,
      "total" -> total,
      // normalized, not echoed raw: "01" passes \d{1,9} but a leading-zero
      // number is invalid JSON (RFC 8259)
      "page" -> page.toInt,
      "pageSize" -> pageSize.toInt))
  }

  private def unblock(spark: SparkSession, stateDir: String,
      p: Map[String, String]): (Int, String) =
    p.get("parentId") match {
      case None => (400, """{"error":"parentId is required"}""")
      case Some(s) if !s.matches("-?\\d{1,18}") =>
        (400, """{"error":"parentId must be an integer"}""")
      case Some(s) =>
        val id = s.toLong
        val state = IncrementalIndexer.readState(spark, stateDir)
        if (state.filter(col("parent_id") === id).isEmpty)
          (404, """{"error":"parent not found"}""")
        else {
          IncrementalIndexer.unblock(spark, stateDir, id)
          (200, json("status" -> "ok", "parentId" -> id))
        }
    }

  // ------------------------------------------------------------------- json

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** One JSON object with the keys in the given order. */
  private def json(kv: (String, Any)*): String =
    mapper.writeValueAsString(ListMap(kv: _*))
}
