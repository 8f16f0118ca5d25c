package graft.catalog

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{ServerSocket, Socket, SocketException}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

/**
 * TCP transport for the wire-protocol interpreters — the analog of
 * the reference daemons' network front-ends (C event loop:
 * `csrc/bloomd/networking.c:149-400`; Rust acceptor + worker threads:
 * `src/main.rs:793-848`). The reference's own integration tests
 * (`integ/test_integ.py:19-71`) drive a real socket with one
 * newline-terminated command per line; this accept-loop +
 * worker-per-connection server lets that corpus run against the
 * engine's interpreters unmodified.
 *
 * Framing (conn_handler.c:99-135): commands are LINES — terminated by
 * `\n`, with an optional trailing `\r` stripped. Responses are
 * whatever the interpreter returns; a trailing newline is added when
 * the interpreter didn't supply one (the C interpreter's constants
 * carry their own framing, the Rust one's don't).
 *
 * The handler function is the seam: `new WireTcpServer(cWire.interpret)`
 * or `new WireTcpServer(rustServer.interpret)`. Connections run
 * CONCURRENTLY (worker thread per connection, no transport-level
 * lock): the consistency semantics live where the reference puts them
 * — in the registry's manager lock and per-filter read-write locks
 * (`SketchCatalog`, mirroring `filter_manager.c:335-391`), so
 * concurrent `check`s on one filter proceed in parallel while `set`s
 * and lifecycle ops serialize against them.
 */
final class WireTcpServer(handler: String => String, port0: Int = 0) {

  private val server = new ServerSocket(port0)
  @volatile private var closed = false
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-wire-worker")
    t.setDaemon(true)
    t
  })

  def port: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    try {
      while (!closed) {
        val sock = server.accept()
        // replies are small and flushed per command: with Nagle on, a
        // client pipelining several commands per write waits out the
        // peer's delayed ACK (~40 ms) on every batch
        sock.setTcpNoDelay(true)
        pool.submit(new Runnable { def run(): Unit = serve(sock) })
      }
    } catch {
      case _: SocketException => // closed
    }
  }, "graft-wire-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(sock: Socket): Unit = {
    try {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      val out = new OutputStreamWriter(sock.getOutputStream, UTF_8)
      var line = in.readLine() // strips \n; we strip the optional \r
      while (line != null && !closed) {
        val cmd = line.stripSuffix("\r")
        val resp = handler(cmd)
        out.write(if (resp.endsWith("\n")) resp else resp + "\n")
        out.flush()
        line = in.readLine()
      }
    } catch {
      case _: java.io.IOException => // client went away
    } finally {
      try sock.close() catch { case _: java.io.IOException => }
    }
  }

  def close(): Unit = {
    closed = true
    try server.close() catch { case _: java.io.IOException => }
    pool.shutdownNow()
  }
}

/** Minimal line client for specs and the gate query: send one command,
  * read a single-line response or a START..END block. */
object WireTcpClient {
  def session[A](port: Int)(f: (String => String) => A): A = {
    val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    try {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      val out = new OutputStreamWriter(sock.getOutputStream, UTF_8)
      def send(cmd: String): String = {
        out.write(cmd + "\n")
        out.flush()
        val first = in.readLine()
        if (first == null) throw new java.io.EOFException("server closed")
        val f0 = first.stripSuffix("\r")
        if (f0 != "START") f0
        else {
          val sb = new StringBuilder("START")
          var l = in.readLine()
          while (l != null && l.stripSuffix("\r") != "END") {
            sb.append('\n').append(l.stripSuffix("\r"))
            l = in.readLine()
          }
          sb.append("\nEND")
          sb.toString
        }
      }
      f(send)
    } finally sock.close()
  }
}
