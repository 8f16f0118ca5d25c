package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** One line-protocol connection: send a command, read a one-line reply
  * or a `START` .. `END` block (returned joined by '\n', no final
  * newline). A reply that takes longer than `timeoutMs` throws. */
final class WireClient(port: Int, timeoutMs: Int = 5000) {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(timeoutMs)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  private val line = new java.io.ByteArrayOutputStream(256)

  private def readLine(): String = {
    line.reset()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("server closed the connection")
      line.write(c)
      c = in.read()
    }
    new String(line.toByteArray, UTF_8)
  }

  def send(cmd: String): String = {
    out.write(cmd.getBytes(UTF_8))
    out.write('\n')
    out.flush()
    val first = readLine()
    if (first != "START") first
    else {
      val sb = new StringBuilder(first)
      var l = readLine()
      while (l != "END") { sb.append('\n').append(l); l = readLine() }
      sb.append("\nEND").toString
    }
  }

  def close(): Unit = sock.close()
}
