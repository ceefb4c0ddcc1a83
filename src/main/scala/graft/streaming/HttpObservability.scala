package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.SparkSession

import graft.config.ConnectorConfig.ConfigException

/** The reference's HTTP observability surface (internal/server/server.go:
  * 34-38): `GET /healthz` → component JSON (health.go:13-29), `GET
  * /metrics` → prometheus text exposition. Runs on the driver (as the
  * reference's server runs in the connector process), JDK http server —
  * no extra dependencies.
  *
  * Panic-recovery middleware parity (middleware.go:10-22): handler
  * exceptions return 500, never kill the server.
  */
final class HttpObservability(
    spark: SparkSession,
    listener: Observability.MetricsListener,
    addr: String = ":0") {

  private val (host, port) = HttpObservability.parseAddr(addr)
  private val server =
    HttpServer.create(new InetSocketAddress(host, port), 0)

  private def handler(contentType: String)(body: () => String): HttpHandler =
    (exchange: HttpExchange) => {
      val (code, bytes) =
        try (200, body().getBytes(StandardCharsets.UTF_8))
        catch { // recoverer middleware: 500, not a crash
          case e: Throwable =>
            (500, s"""{"error":"${e.getClass.getSimpleName}"}"""
              .getBytes(StandardCharsets.UTF_8))
        }
      exchange.getResponseHeaders.add("Content-Type", contentType)
      exchange.sendResponseHeaders(code, bytes.length)
      val os = exchange.getResponseBody
      try os.write(bytes) finally os.close()
    }

  server.createContext("/healthz", handler("application/json") { () =>
    Observability.healthJson(Observability.healthCheck(spark))
  })
  server.createContext("/metrics", handler("text/plain; version=0.0.4") {
    () => listener.renderPrometheus()
  })
  server.setExecutor(null) // single-threaded, like the probe load profile

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = server.stop(0)
}

object HttpObservability {

  /** `host:port` → (host, port), as Go's `net.Listen` reads it: the port
    * follows the last `:` and is 0..65535, an IPv6 host is bracketed
    * (`[::1]:8080`) and an empty host (`:8080`) means every interface.
    * Anything else is a [[ConfigException]] naming the value, thrown
    * before the server or any query starts.
    */
  def parseAddr(addr: String): (String, Int) = {
    def bad(why: String) =
      throw new ConfigException(s"server addr '$addr': $why")
    val i = addr.lastIndexOf(':')
    if (i < 0) bad("missing port in address")
    val h = addr.substring(0, i)
    val host =
      if (h.startsWith("[") && h.endsWith("]")) h.substring(1, h.length - 1)
      else if (h.exists(":[]".contains(_))) bad("too many colons in address")
      else if (h.isEmpty) "0.0.0.0"
      else h
    val p = addr.substring(i + 1)
    if (p.isEmpty || p.length > 5 || !p.forall(_.isDigit) || p.toInt > 65535)
      bad("port must be an integer in 0..65535")
    (host, p.toInt)
  }
}
