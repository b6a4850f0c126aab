package graft.serve

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import graft.util.Json

/** K6 — minimal HTTP façade over [[QueryApi]], JDK-only (no deps).
  *
  * Routes mirror the reference's Javalin server
  * (ref: CentralStationServer.java:23-58):
  *   GET /stations          → all latest rows as a JSON array
  *   GET /station?id=<K>    → one row; 400 missing param, 404 unknown key
  * CORS `*` like the reference (ref: CentralStationServer.java:26-29).
  *
  * Serving-path note: the handler queries the Spark latest-table per request
  * (collect of O(stations) rows). For high QPS you'd snapshot to a local map
  * per refresh — the HTTP layer is a shim, not the engine.
  */
class HttpShim(api: QueryApi, port: Int = 0) {

  private def rowJson(r: org.apache.spark.sql.Row): String = {
    // weather fields accessed BY NAME: a caller's table may order the
    // struct differently, and ordinal access would silently swap readings
    val w = r.getStruct(r.fieldIndex("weather"))
    s"""{"station_id":${r.getAs[Long]("station_id")},"s_no":${r.getAs[Long]("s_no")},""" +
      s""""battery_status":${Json.str(r.getAs[String]("battery_status"))},""" +
      s""""status_timestamp":${Json.str(String.valueOf(r.getAs[java.sql.Timestamp]("status_timestamp")))},""" +
      s""""weather":{"humidity":${w.getAs[Int]("humidity")},"temperature":${w.getAs[Int]("temperature")},"wind_speed":${w.getAs[Int]("wind_speed")}}}"""
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  // Without an explicit executor the JDK server dispatches every exchange on
  // its single accept thread, serializing clients; the reference's Javalin
  // server is pooled (ref: CentralStationServer.java:23 — Jetty QTP, max
  // 200), so concurrent clients are part of the contract. BOUNDED like QTP:
  // every exchange runs a driver-side collect, so an unbounded pool would
  // let a connection burst flood the scheduler. Daemon threads: the shim
  // must never pin a driver JVM open.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(200,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      override def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"http-shim-${n.getAndIncrement()}")
        t.setDaemon(true); t
      }
    })
  server.setExecutor(pool)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Access-Control-Allow-Origin", "*")
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  /** Route guard shared by both contexts. JDK context matching is
    * PREFIX-based, so /stationsXYZ and /station/5 land here too — they
    * must 404 like the reference's exact Javalin routes. Non-GET methods
    * 405 (every handler runs a driver-side collect; a CORS preflight must
    * not do real work). A handler exception becomes a 500 — the bare JDK
    * server would otherwise close the connection with NO response, where
    * the reference returns 500.
    */
  private def guarded(exactPath: String)(f: HttpExchange => Unit): HttpHandler =
    new HttpHandler {
      override def handle(ex: HttpExchange): Unit =
        try {
          if (ex.getRequestURI.getPath != exactPath)
            respond(ex, 404, """{"error":"not found"}""")
          else if (ex.getRequestMethod != "GET")
            respond(ex, 405, """{"error":"method not allowed"}""")
          else f(ex)
        } catch {
          case _: Throwable =>
            // best-effort: if the failure hit after headers were sent the
            // respond itself throws; either way the exchange must close
            try respond(ex, 500, """{"error":"internal server error"}""")
            catch { case _: Throwable => () }
            finally ex.close()
        }
    }

  server.createContext("/stations", guarded("/stations") { ex =>
    respond(ex, 200,
      api.scan().collect().map(rowJson).mkString("[", ",", "]"))
  })

  server.createContext("/station", guarded("/station") { ex =>
    val params = Option(ex.getRequestURI.getQuery).getOrElse("")
      .split("&").map(_.split("=", 2)).collect {
        case Array(k, v) => k -> v
      }.toMap
    params.get("id").flatMap(s => s.toLongOption) match {
      case None =>
        respond(ex, 400, """{"error":"missing or invalid id parameter"}""")
      case Some(id) => api.point(id) match {
        case Some(row) => respond(ex, 200, rowJson(row))
        case None => respond(ex, 404, s"""{"error":"unknown station $id"}""")
      }
    }
  })

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
}
