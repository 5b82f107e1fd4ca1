package graft

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

import graft.service.Wcmp2Service
import graft.sources.RecordTable

/** End-to-end drive of the OGC API - Processes-shaped service
  * (`pygeoapi_plugin.py` analog) over a real HTTP socket. */
class ServiceSpec extends SparkSpec {

  private lazy val server =
    Wcmp2Service.start(spark, port = 0, runDatetime = "2026-08-16T00:00:00Z")
  private def base = s"http://localhost:${server.getAddress.getPort}"

  private def http(method: String, path: String,
                   body: String = null): (Int, String) = {
    val conn = URI.create(base + path).toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/json")
      val os = conn.getOutputStream
      try os.write(body.getBytes(UTF_8)) finally os.close()
    }
    val code = conn.getResponseCode
    val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    conn.disconnect()
    (code, text)
  }

  private def execBody(fixture: String, extra: String = ""): String =
    s"""{"inputs":{"record":${RecordTable.fixtureContent(fixture)}$extra}}"""

  test("process list and descriptions are served") {
    val (code, body) = http("GET", "/processes")
    assert(code == 200)
    assert(body.contains("\"pywcmp-wis2-wcmp2-ets\""))
    assert(body.contains("\"pywcmp-wis2-wcmp2-kpi\""))

    val (dc, desc) = http("GET", "/processes/pywcmp-wis2-wcmp2-ets")
    assert(dc == 200)
    assert(desc.contains("\"fail_on_schema_validation\""))
    assert(desc.contains("\"record\""))

    assert(http("GET", "/processes/nope")._1 == 404)
    assert(http("GET", "/")._1 == 200)
  }

  test("ETS execution: passing record returns the full report (12 PASSED)") {
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      execBody("wcmp2-passing.json"))
    assert(code == 200)
    assert(body.contains("\"report_type\":\"ets\""))
    assert(body.contains("\"PASSED\":12"))
    assert(body.contains("\"FAILED\":0"))
    assert(body.contains("\"datetime\":\"2026-08-16T00:00:00Z\""))
    assert(body.contains(
      "urn:wmo:md:ca-eccc-msc:weather.observations.swob-realtime"))
  }

  test("ETS execution: schema-failing record aborts under the default " +
       "flag (reference ValueError, ets.py:96-101) and reports with " +
       "fail_on_schema_validation=false") {
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      execBody("wcmp2-failing.json"))
    assert(code == 500)
    assert(body.contains("Record fails WCMP2 validation. Stopping ETS"))

    val (c2, b2) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      execBody("wcmp2-failing.json", ""","fail_on_schema_validation":false"""))
    assert(c2 == 200)
    assert(b2.contains("\"FAILED\":3"))
  }

  test("KPI execution: passing record grades A (32/32) and is NOT " +
       "ETS-gated (plugin calls evaluate() directly)") {
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-kpi/execution",
      execBody("wcmp2-passing.json"))
    assert(code == 200)
    assert(body.contains("\"report_type\":\"kpi\""))
    assert(body.contains("\"total\":32"))
    assert(body.contains("\"score\":32"))
    assert(body.contains("\"grade\":\"A\""))

    // the reference KPI *plugin* (unlike its CLI) runs ungated — a
    // schema-failing record still gets a KPI report
    val (c2, b2) = http("POST", "/processes/pywcmp-wis2-wcmp2-kpi/execution",
      execBody("wcmp2-failing.json"))
    assert(c2 == 200)
    assert(b2.contains("\"report_type\":\"kpi\""))
  }

  test("record input may arrive as a JSON-encoded string (declared " +
       "input schema type:string)") {
    val quoted = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .build().writeValueAsString(
        RecordTable.fixtureContent("wcmp2-passing.json"))
    val (code, body) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      s"""{"inputs":{"record":$quoted}}""")
    assert(code == 200)
    assert(body.contains("\"PASSED\":12"))
  }

  test("error paths: missing record, bad JSON body, unknown process, " +
       "unparseable record") {
    val (mc, mb) = http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      """{"inputs":{}}""")
    assert(mc == 400 && mb.contains("Missing record"))

    assert(http("POST", "/processes/pywcmp-wis2-wcmp2-ets/execution",
      "not json")._1 == 400)

    assert(http("POST", "/processes/nope/execution",
      """{"inputs":{"record":{}}}""")._1 == 404)

    val (ec, eb) = http("POST", "/processes/pywcmp-wis2-wcmp2-kpi/execution",
      """{"inputs":{"record":"definitely not json"}}""")
    assert(ec == 400 && eb.contains("Encoding error"))
  }

  test("request body is capped: a body at the cap executes, one byte " +
       "over it is refused with 413 in the error-document shape") {
    val cap = Wcmp2Service.MaxBodyBytes
    val body = execBody("wcmp2-passing.json")
    def padded(n: Int): String = body + " " * (n - body.getBytes(UTF_8).length)
    val (okCode, okBody) = http("POST",
      "/processes/pywcmp-wis2-wcmp2-ets/execution", padded(cap))
    assert(okCode == 200 && okBody.contains("\"PASSED\":12"))

    val (code, text) = http("POST",
      "/processes/pywcmp-wis2-wcmp2-ets/execution", padded(cap + 1))
    assert(code == 413)
    val doc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(text)
    assert(doc.path("code").asText == "PayloadTooLarge")
    assert(doc.path("description").asText.contains(cap.toString))
  }
}
