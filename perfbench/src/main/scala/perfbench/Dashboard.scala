package perfbench

import java.net.HttpURLConnection
import java.nio.charset.StandardCharsets.UTF_8

import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.engine.{Analytics, AnalyticsServer}

/** The reference's product: an in-process [[AnalyticsServer]] over the
  * generated NYC-shaped parquet, driven by a closed loop of [[Clients]]
  * HTTP clients on loopback. Client `c` takes the stream's units (a page
  * view with its follow-up requests) `c`, `c + Clients`, `c + 2 Clients`,
  * ... and sends each unit's requests in order, so the seed, not timing,
  * fixes each client's sequence and which requests meet in the
  * dispatcher's queue. Every response is kept (status, body, client) for
  * the DuckDB check in `perfbench/check.py`, which also replays each
  * client's bookmark toggles itself.
  */
final class Dashboard(spark: SparkSession, data: String, out: String,
                      trace: Trace) extends Workload {
  private val Clients = 2

  private case class Req(phase: String, unit: Int, route: String,
                         method: String, path: String, corner: String)

  private val reqs = {
    val src = Source.fromFile(s"$data/requests.tsv", "UTF-8")
    try src.getLines().map(_.split("\t", -1)).map(a =>
      Req(a(0), a(1).toInt, a(2), a(3), a(4), a(5))).toVector
    finally src.close()
  }
  private val warmupReqs = reqs.filter(_.phase == "warmup")
  // the timed stream as units, in stream order
  private val units = reqs.filter(_.phase == "timed").groupBy(_.unit)
    .toVector.sortBy(_._1).map(_._2)

  private var server: AnalyticsServer = _
  private var port = 0
  private var frames: Seq[DataFrame] = Nil

  private def load(name: String) = spark.read.parquet(s"$data/$name.parquet")

  def setup(rep: Int): Unit = {
    if (server != null) server.stop()
    val Seq(geo, sr, ct, sale, prop) = Seq("geographic_area",
      "service_request", "complaint_type", "sale", "property").map(load)
    frames = Seq(geo, sr, ct, sale, prop)
    server = new AnalyticsServer(spark, geo, sr, ct, sale, prop,
      bookmarkStore = Some(s"$out/bookmarks-$rep"))
    port = server.start(0)
  }

  def warmup(): Unit = {
    val c = new Client(-1)
    warmupReqs.foreach(r => c.send(r))
  }

  /** One HTTP client and its session cookie. */
  private final class Client(val id: Int) {
    private var cookie: Option[String] = None

    def send(r: Req): (Int, String) = {
      val conn = java.net.URI.create(s"http://127.0.0.1:$port${r.path}").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod(r.method)
      cookie.foreach(c => conn.setRequestProperty("Cookie", c))
      if (r.method == "POST") {
        conn.setDoOutput(true)
        conn.getOutputStream.close()
      }
      val code = conn.getResponseCode
      Option(conn.getHeaderField("Set-Cookie"))
        .foreach(c => cookie = Some(c.split(";")(0)))
      val in = if (code < 400) conn.getInputStream else conn.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8)
        finally in.close()
      (code, body)
    }
  }

  def run(seconds: Double): Seq[Op] = {
    val deadline = trace.nowMs + seconds * 1000
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val threads = (0 until Clients).map { cid =>
      new Thread(() => {
        val c = new Client(cid)
        var u = cid
        while (trace.nowMs < deadline && u < units.size) {
          for ((r, k) <- units(u).zipWithIndex if trace.nowMs < deadline) {
            val id = s"u$u.$k"
            val traced = trace.on
            val start = trace.nowMs
            val (code, body) = trace.span("engine", r.route, id) {
              try c.send(r) catch { case e: java.io.IOException => (-1, e.toString) }
            }
            results.add(Op("request", r.route, id, start, trace.nowMs, code > 0,
              traced, Map("status" -> code, "body" -> body, "path" -> r.path,
                "method" -> r.method, "corner" -> r.corner, "client" -> cid)))
          }
          u += Clients
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    results.toArray(Array.empty[Op]).toSeq.sortBy(_.start)
  }

  def finish(ops: Seq[Op]): Map[String, Any] = {
    server.stop()
    if (!trace.on) Map.empty
    else Map("frame_ops" -> frameProbe(ops).map(_.json))
  }

  /** Traced runs only: the frames behind the routes, called directly on a
    * sample of the run's keys, one span and one op id per frame. The
    * server's own thread cannot be tagged from outside, so this is how the
    * route time splits into frame time and render time. */
  private def frameProbe(ops: Seq[Op]): Seq[Op] = {
    val Seq(geo, sr, ct, sale, prop) = frames
    // the (key, window) of the first few answered dashboard requests
    val probes = ops.filter(o => o.traced && o.name == "analytics" &&
        o.info("status") == 200)
      .take(3).map { o =>
        val url = java.net.URI.create(o.info("path").toString)
        val q = url.getQuery.split("&").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
        (o.id, AnalyticsServer.parseBbl(url.getPath.stripPrefix("/analytics/")).get,
          Analytics.Window(q.get("start_date"), q.get("end_date")))
      }
    probes.flatMap { case (request, (b, bl, lt), w) =>
      def frame(name: String)(df: => DataFrame): (Op, Array[Row]) = {
        val id = s"$request-$name"
        spark.sparkContext.setLocalProperty(Trace.OpKey, id)
        val start = trace.nowMs
        val plan = df
        val rows = trace.span("engine", name, id)(plan.collect())
        val op = Op("frame", name, id, start, trace.nowMs, ok = true,
          traced = true, Plans.counts(plan) + ("request" -> request))
        spark.sparkContext.setLocalProperty(Trace.OpKey, null)
        (op, rows)
      }
      val (geoOp, ids) = frame("geo_lookup")(
        Analytics.geoLookup(geo, b, bl, lt).select(col("geographic_id")))
      val geoId = ids.head.getLong(0)
      geoOp +: Seq(
        frame("request_totals")(Analytics.requestTotals(sr, geoId, w)),
        frame("requests_by_type")(Analytics.requestsByType(sr, ct, geoId, w)),
        frame("complaint_chart")(Analytics.complaintChart(
          Analytics.requestsByType(sr, ct, geoId, w))),
        frame("sales_listing")(Analytics.salesListing(sale, prop, geoId, w)),
        frame("sales_stats")(Analytics.salesStats(sale, prop, geoId, w)),
        frame("request_trend")(Analytics.requestTrend(spark, sr, geoId,
          w.start.get, w.end.get)),
        frame("sales_trend")(Analytics.salesTrend(spark, sale, prop, geoId,
          w.start.get, w.end.get)),
        frame("compare")(Analytics.compareByKeys(geo, sr, Seq((b, bl, lt)), w)),
        frame("bookmark_summaries")(Analytics.bookmarkSummaries(sr, Seq(geoId)))
      ).map(_._1)
    }
  }
}
