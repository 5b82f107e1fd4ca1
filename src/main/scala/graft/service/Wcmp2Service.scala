package graft.service

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Reports, Validator}

/** HTTP service surface — the analog of the reference's pygeoapi process
  * plugin (`/root/reference/pywcmp/pygeoapi_plugin.py:193-261`), which
  * exposes ETS validation and KPI evaluation as OGC API - Processes
  * endpoints:
  *
  *   - `GET  /processes`                      — process list
  *   - `GET  /processes/{id}`                 — process description
  *   - `POST /processes/{id}/execution`       — synchronous execution,
  *     body `{"inputs": {"record": <WCMP2 doc or JSON string>, ...}}`
  *
  * Process semantics mirrored from the reference:
  *   - `pywcmp-wis2-wcmp2-ets` (`pygeoapi_plugin.py:207-223`): inputs
  *     `record` (required) + `fail_on_schema_validation` (default true,
  *     `pygeoapi_plugin.py:109-120,212`). A gate failure under the flag
  *     maps the reference's ValueError (`wcmp2/ets.py:96-101`) to an
  *     error response carrying the same message text; with the flag off
  *     the full ETS report is returned.
  *   - `pywcmp-wis2-wcmp2-kpi` (`pygeoapi_plugin.py:243-258`): input
  *     `record` only. NOTE the reference plugin calls `kpis.evaluate()`
  *     directly — the KPI process is NOT ETS-gated (unlike the KPI CLI,
  *     `kpi.py:81-87`); reproduced here by skipping [[Reports.withEtsGate]].
  *   - a missing `record` input raises ProcessorExecuteError "Missing
  *     record" (`pygeoapi_plugin.py:214-217,249-252`) → 400 here.
  *
  * The HTTP status codes (400/404/405/500) are this engine's choice — the
  * reference delegates them to pygeoapi — but every message string a
  * client can observe comes from the reference.
  *
  * Execution runs the exact table catalog on a 1-row frame (same code
  * path as [[Reports.validateOne]]), so service answers are identical to
  * batch answers at any scale. The embedded server is the JDK's
  * `com.sun.net.httpserver` on a small worker pool; Spark schedules the
  * per-request jobs concurrently (FAIR-safe: each request is one tiny
  * local job).
  */
object Wcmp2Service {

  val EtsProcessId = "pywcmp-wis2-wcmp2-ets"
  val KpiProcessId = "pywcmp-wis2-wcmp2-kpi"

  private val mapper = new ObjectMapper()

  final case class Response(status: Int, body: String)

  /** Largest accepted execution request body. A WCMP2 record is a few KB;
    * the cap keeps one request from buffering unbounded bytes on the
    * driver. Larger bodies get a 413 without being read further. */
  val MaxBodyBytes: Int = 8 << 20

  // ---------------------------------------------------------------- descr

  /** Process description JSON (compact mirror of PROCESS_WCMP2_ETS /
    * PROCESS_WCMP2_KPI, `pygeoapi_plugin.py:80-190`; output report
    * schemas are referenced by id rather than inlined). */
  private def describe(id: String): String = {
    val (title, desc, extraInput) = id match {
      case EtsProcessId =>
        ("WCMP2 ETS validator", "Validate a WCMP2 document against the ETS",
          ""","fail_on_schema_validation":{
            |"title":"Fail on schema validation",
            |"description":"Stop the ETS on failing schema validation",
            |"schema":{"type":"boolean","default":true},
            |"minOccurs":0,"maxOccurs":1}""".stripMargin.replace("\n", ""))
      case KpiProcessId =>
        ("WCMP2 KPI evaluator",
          "Validate a WCMP2 document against the KPI suite", "")
      case other => throw new NoSuchElementException(other)
    }
    val kw = if (id == EtsProcessId) """"wis2","wcmp2","ets","test suite","metadata""""
             else """"wis2","wcmp2","kpi","test suite","metadata""""
    s"""{"version":"0.1.0","id":"$id","title":{"en":"$title"},""" +
      s""""description":{"en":"$desc"},"keywords":[$kw],""" +
      """"links":[{"type":"text/html","rel":"about","title":"information",""" +
      """"href":"https://wmo-im.github.io/wcmp2","hreflang":"en-US"}],""" +
      """"jobControlOptions":["sync-execute"],""" +
      """"inputs":{"record":{"title":"WCMP2 record",""" +
      """"description":"WCMP2 record","schema":{"type":"string"},""" +
      s""""minOccurs":1,"maxOccurs":1}$extraInput},""" +
      """"outputs":{"result":{"title":"Report of results",""" +
      """"schema":{"contentMediaType":"application/json"}}}}"""
  }

  private def processList: String =
    s"""{"processes":[${describe(EtsProcessId)},${describe(KpiProcessId)}],""" +
      """"links":[]}"""

  private def landing: String =
    """{"title":"graft-wcmp2spark validation service",""" +
      """"description":"WCMP2 ETS validation and KPI evaluation """ +
      """(OGC API - Processes shaped)",""" +
      """"links":[{"rel":"processes","href":"/processes"}]}"""

  private def error(status: Int, code: String, description: String): Response =
    Response(status, s"""{"code":"$code","description":${quote(description)}}""")

  private def quote(s: String): String = mapper.writeValueAsString(s)

  // ---------------------------------------------------------------- exec

  /** Extract the `record` input: the reference accepts the parsed WCMP2
    * document itself (pygeoapi hands `execute` the deserialized object);
    * a JSON-string-encoded document is accepted too (the declared input
    * schema is `{"type":"string"}`, `pygeoapi_plugin.py:100-103`). */
  private def recordInput(inputs: JsonNode): Option[String] = {
    val node = inputs.path("record")
    if (node.isMissingNode || node.isNull) None
    else if (node.isTextual) Some(node.asText)
    else Some(mapper.writeValueAsString(node))
  }

  /** ETS execution (`pygeoapi_plugin.py:207-223`). */
  def executeEts(spark: SparkSession, record: String,
                 failOnSchemaValidation: Boolean,
                 runDatetime: String): Response = {
    val validated = Validator.validate(Reports.oneRowTable(spark, record))
    val row = validated.select(
      col("parse_ok"),
      coalesce(col("validation.code"), lit("PASSED")).as("gate"),
      concat_ws(", ", col("validation.errors")).as("gate_errors"),
      Reports.etsReportJson(runDatetime).as("ets")).head()
    if (!row.getBoolean(0))
      error(400, "InvalidParameterValue",
        "Encoding error: record is not valid JSON")
    else if (failOnSchemaValidation && row.getString(1) == "FAILED")
      // the reference raises ValueError here (`wcmp2/ets.py:96-101`)
      error(500, "ProcessorExecuteError",
        "Record fails WCMP2 validation. Stopping ETS " +
          s"errors: [${row.getString(2)}]")
    else Response(200, row.getString(3))
  }

  /** KPI execution (`pygeoapi_plugin.py:243-258`) — ungated by design. */
  def executeKpi(spark: SparkSession, record: String,
                 runDatetime: String): Response = {
    val validated = Validator.validate(Reports.oneRowTable(spark, record))
    val row = validated.select(
      col("parse_ok"),
      Reports.kpiReportJson(runDatetime).as("kpi")).head()
    if (!row.getBoolean(0))
      error(400, "InvalidParameterValue",
        "Encoding error: record is not valid JSON")
    else Response(200, row.getString(1))
  }

  private def execute(spark: SparkSession, processId: String,
                      body: String, runDatetime: String): Response = {
    val root =
      try mapper.readTree(body)
      catch { case _: Exception =>
        return error(400, "InvalidParameterValue",
          "Invalid execution request: body is not valid JSON") }
    val inputs = root.path("inputs")
    recordInput(inputs) match {
      case None => error(400, "MissingParameterValue", "Missing record")
      case Some(record) => processId match {
        case EtsProcessId =>
          val flag = inputs.path("fail_on_schema_validation").asBoolean(true)
          executeEts(spark, record, flag, runDatetime)
        case KpiProcessId => executeKpi(spark, record, runDatetime)
        case other => error(404, "NoSuchProcess", s"No such process: $other")
      }
    }
  }

  // ---------------------------------------------------------------- http

  /** Start the service. `port` 0 binds an ephemeral port (tests); read the
    * bound port from `server.getAddress.getPort`. `runDatetime` empty =
    * stamp reports with the wall clock per request (production); a fixed
    * value makes responses fully deterministic (tests). */
  def start(spark: SparkSession, port: Int,
            runDatetime: String = ""): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.setExecutor(Executors.newFixedThreadPool(4))
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val resp =
          try route(spark, ex, runDatetime)
          catch { case e: Exception =>
            error(500, "ProcessorExecuteError", String.valueOf(e.getMessage)) }
        val bytes = resp.body.getBytes(UTF_8)
        ex.getResponseHeaders.set("Content-Type", "application/json")
        ex.sendResponseHeaders(resp.status, bytes.length.toLong)
        val os = ex.getResponseBody
        try os.write(bytes) finally os.close()
      }
    })
    server.start()
    server
  }

  private def route(spark: SparkSession, ex: HttpExchange,
                    runDatetime: String): Response = {
    val path = ex.getRequestURI.getPath.stripSuffix("/") match {
      case "" => "/"
      case p => p
    }
    val method = ex.getRequestMethod
    val execRe = "/processes/([^/]+)/execution".r
    (method, path) match {
      case ("GET", "/") => Response(200, landing)
      case ("GET", "/processes") => Response(200, processList)
      case ("GET", s"/processes/$id")
          if id == EtsProcessId || id == KpiProcessId =>
        Response(200, describe(id))
      case ("GET", s"/processes/$id") =>
        error(404, "NoSuchProcess", s"No such process: $id")
      case ("POST", execRe(id)) =>
        val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
        if (bytes.length > MaxBodyBytes)
          error(413, "PayloadTooLarge",
            s"Request body exceeds $MaxBodyBytes bytes")
        else {
          val dt = if (runDatetime.nonEmpty) runDatetime
                   else java.time.Instant.now().toString
          execute(spark, id, new String(bytes, UTF_8), dt)
        }
      case ("POST", _) => error(404, "NotFound", s"No such endpoint: $path")
      case (_, _) =>
        error(405, "MethodNotAllowed", s"$method not allowed on $path")
    }
  }

  /** `java -cp ... graft.service.Wcmp2Service [--port 5001]` */
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val port = opts.getOrElse("port", "5001").toInt
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-wcmp2-service")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm the catalog codegen so the first request isn't a cold start
    executeEts(spark,
      graft.sources.RecordTable.fixtureContent("wcmp2-passing.json"),
      failOnSchemaValidation = false, runDatetime = "1970-01-01T00:00:00Z")
    val server = start(spark, port)
    println(s"[graft] wcmp2 service listening on " +
      s"http://localhost:${server.getAddress.getPort}/processes")
    new java.util.concurrent.CountDownLatch(1).await()
  }
}
