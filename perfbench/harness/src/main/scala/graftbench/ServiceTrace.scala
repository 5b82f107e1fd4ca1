package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.service.Wcmp2Service

/** Traced run of the service workload, in one JVM.
  *
  * The session is built as `Wcmp2Service.main` builds it, warmed the same
  * way, and served with `Wcmp2Service.start`. The request list has four
  * slices, each drawn from the same seeded mix:
  *  - `warmup`: sent over HTTP from 4 callers until latency stops falling;
  *  - `inproc`: `executeEts`/`executeKpi` called directly, untraced;
  *  - `traced`: the same calls inside spans, with Spark's listeners placing
  *    the planning phases and execution under each request's span;
  *  - `http`: sent over HTTP from one client.
  * HTTP overhead is the `http` median minus the `inproc` median, and tracing
  * overhead the `traced` median minus the `inproc` median.
  *
  * {{{ ServiceTrace --requests FILE --report FILE --spans FILE }}}
  */
object ServiceTrace {
  final case class Req(slice: String, process: String, body: String,
                       status: Int, failed: Option[Int])
  final case class Round(inproc: Double, traced: Double, codegen: Double,
                         http: Double)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val reqs = Files.readAllLines(Paths.get(opts("requests"))).asScala.toSeq
      .filter(_.nonEmpty).map { line =>
        val n = Json.mapper.readTree(line)
        Req(n.get("slice").asText, n.get("process").asText,
          n.get("body").asText, n.get("status").asInt,
          Option(n.get("failed")).filterNot(_.isNull).map(_.asInt))
      }
    def slice(name: String) = reqs.filter(_.slice == name)

    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .appName("graft-wcmp2-service")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Wcmp2Service.executeEts(spark,
      graft.sources.RecordTable.fixtureContent("wcmp2-passing.json"),
      failOnSchemaValidation = false, runDatetime = "1970-01-01T00:00:00Z")
    val server = Wcmp2Service.start(spark, 0)
    val base = s"http://localhost:${server.getAddress.getPort}/processes"
    val client = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).build()

    var attempted, failed = 0
    def check(r: Req, status: Int, body: String): Unit = synchronized {
      attempted += 1
      val ok = status == r.status && r.failed.forall { f =>
        scala.util.Try(Json.mapper.readTree(body).path("summary")
          .path("FAILED").asInt(-1)).toOption.contains(f)
      }
      if (!ok) {
        failed += 1
        System.err.println(s"[perfbench] ${r.slice} ${r.process}: got " +
          s"$status, expected ${r.status} / FAILED ${r.failed}")
      }
    }

    /** One request over HTTP; returns its latency in ms. */
    def post(r: Req): Double = {
      val id = if (r.process == "ets") Wcmp2Service.EtsProcessId
               else Wcmp2Service.KpiProcessId
      val t0 = System.nanoTime()
      val resp = client.send(HttpRequest.newBuilder(
          URI.create(s"$base/$id/execution"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(r.body)).build(),
        HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1e6
      check(r, resp.statusCode, resp.body)
      ms
    }

    /** The service's own request handling up to the engine call, as a
      * thunk; `None` when the body never reaches the engine. */
    def engineCall(r: Req): Option[() => Wcmp2Service.Response] = {
      val root = scala.util.Try(Json.mapper.readTree(r.body)).toOption
      root.map(_.path("inputs")).flatMap { inputs =>
        val node = inputs.path("record")
        if (node.isMissingNode || node.isNull) None
        else {
          val record = if (node.isTextual) node.asText
                       else Json.mapper.writeValueAsString(node)
          val flag = inputs.path("fail_on_schema_validation").asBoolean(true)
          Some(() => {
            val dt = java.time.Instant.now().toString
            if (r.process == "ets")
              Wcmp2Service.executeEts(spark, record, flag, dt)
            else Wcmp2Service.executeKpi(spark, record, dt)
          })
        }
      }
    }
    def reaches(r: Req): Boolean = engineCall(r).isDefined
    def execute(r: Req): Unit = engineCall(r).foreach { call =>
      val resp = call()
      check(r, resp.status, resp.body)
    }

    // warm-up as run.py's: 4 callers, windows of 32 requests, until the
    // ETS-report medians of two windows in a row are no longer 5 % below the
    // best earlier window
    val callers = java.util.concurrent.Executors.newFixedThreadPool(4)
    var warmMedians = Vector.empty[Double]
    val windows = slice("warmup").grouped(32)
    var best = Double.MaxValue
    var misses = 0
    while (windows.hasNext && misses < 2) {
      val w = windows.next()
      val lat = w.map(r => callers.submit(new java.util.concurrent.Callable[Double] {
        def call(): Double = post(r) })).map(_.get)
      val ets = w.zip(lat).collect {
        case (r, ms) if r.process == "ets" && r.status == 200 => ms }
      val m = if (ets.isEmpty) Double.MaxValue else Probe.median(ets)
      warmMedians :+= m
      misses = if (m >= 0.95 * best) misses + 1 else 0
      best = math.min(best, m)
    }
    callers.shutdown()

    def timed(r: Req): Double = {
      val t0 = System.nanoTime()
      execute(r)
      (System.nanoTime() - t0) / 1e6
    }

    // one request of each slice in turn, so that none of the three gains
    // from JIT warm-up the others paid for
    val probe = new Probe
    val tr = new Tracer
    var jobs = 0
    var cpuNs, gcNs = 0L
    val Seq(as, bs, cs) =
      Seq("inproc", "traced", "http").map(slice(_).filter(reaches))
    val rounds = as.zip(bs).zip(cs).zipWithIndex.map {
      case (((a, b), c), i) =>
        val inproc = timed(a)

        probe.install(spark)
        tr.trace = s"request-$i"
        val cg0 = Probe.codegenNs()
        val gc0 = Probe.gcSeconds()
        val t0 = System.nanoTime()
        tr.span("service.execute") { execute(b) }
        val traced = (System.nanoTime() - t0) / 1e6
        val codegen = (Probe.codegenNs() - cg0) / 1e6
        probe.drain(spark)
        gcNs += ((Probe.gcSeconds() - gc0) * 1e9).toLong
        spark.sparkContext.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
        val (tasks, jobStarts, queries) = probe.take()
        Probe.attach(tr, queries)
        // execution: the listener's query duration minus the planning that
        // ran inside it, placed after the planning phase
        val home = tr.spans.find(s => s.trace == tr.trace &&
          s.name == "service.execute").get
        queries.foreach { q =>
          q.phases.get("planning").foreach { case (_, end) =>
            val execNs = q.durNs - Probe.phaseNs(q, "optimization") -
              Probe.phaseNs(q, "planning")
            val at = Probe.msToNs(end)
            tr.record("executor.exec", home.id, at, at + math.max(0L, execNs))
          }
        }
        jobs += jobStarts.size
        cpuNs += tasks.map(_.cpuNs).sum

        Round(inproc, traced, codegen, post(c))
      }
    val Seq(inproc, traced, codegen, http) = Seq[Round => Double](
      _.inproc, _.traced, _.codegen, _.http).map(rounds.map(_))

    server.stop(0)
    spark.stop()

    // per-request self time of each layer, then the median over requests
    val self = tr.selfNs
    val byReq = tr.spans.groupBy(_.trace)
    def perRequestMs(name: String): Double = Probe.median(byReq.values.toSeq.map(
      _.filter(_.name == name).map(s => self(s.id)).sum / 1e6))
    val metrics = Map(
      "service.build_ms" -> perRequestMs("service.execute"),
      "service.analysis_ms" -> perRequestMs("driver.analysis"),
      "service.optimization_ms" -> perRequestMs("driver.optimization"),
      "service.planning_ms" -> perRequestMs("driver.planning"),
      "service.codegen_ms" -> Probe.median(codegen),
      "service.exec_ms" -> perRequestMs("executor.exec"),
      "service.http_ms" -> (Probe.median(http) - Probe.median(inproc)),
      "service.jobs_per_request" -> jobs.toDouble / math.max(1, rounds.size),
      "service.jvm.gc_s" -> gcNs / 1e9,
      "service.executor.cpu_s" -> cpuNs / 1e9,
      "service.trace.inproc_ms" -> Probe.median(inproc),
      "service.trace.overhead_ms" -> (Probe.median(traced) - Probe.median(inproc)))

    tr.write(opts("spans"))
    Json.writeFile(opts("report"), Map("attempted" -> attempted,
      "failed" -> failed, "samples" -> rounds.size,
      "warmup_medians_ms" -> warmMedians, "metrics" -> metrics))
    // the service's request pool is not a daemon pool
    sys.exit(0)
  }
}
