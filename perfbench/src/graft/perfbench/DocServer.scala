package graft.perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.util.concurrent.{Executors, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import com.sun.net.httpserver.HttpServer

/** In-process HTTP server on the loopback interface that serves the
  * current document at `/doc`, standing in for the upstream API. */
final class DocServer extends AutoCloseable {
  private val body = new AtomicReference[Array[Byte]](Array.emptyByteArray)
  val bytesServed = new AtomicLong
  val fetches = new AtomicLong

  private val pool = Executors.newSingleThreadExecutor { (r: Runnable) =>
    val t = new Thread(r, "perfbench-doc-server")
    t.setDaemon(true)
    t
  }
  private val server =
    HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 0)
  server.createContext("/doc", ex => {
    val b = body.get
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, b.length.toLong)
    val os = ex.getResponseBody
    try os.write(b) finally os.close()
    bytesServed.addAndGet(b.length.toLong)
    fetches.incrementAndGet()
  })
  server.setExecutor(pool)
  server.start()

  val url: String =
    s"http://${server.getAddress.getAddress.getHostAddress}:${server.getAddress.getPort}/doc"

  def serve(doc: Array[Byte]): Unit = body.set(doc)

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}
