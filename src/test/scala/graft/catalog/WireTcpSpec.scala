package graft.catalog

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.io.{BufferedReader, InputStreamReader}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/**
 * TCP transport over the wire interpreters — the reference integ
 * tests' startup contract (`integ/test_integ.py:19-71`: connect,
 * send newline-terminated commands, read line / START..END block).
 */
class WireTcpSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def withServer[A](handler: String => String)(f: Int => A): A = {
    val srv = new WireTcpServer(handler)
    try f(srv.port) finally srv.close()
  }

  test("C protocol golden subset over a real socket") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("tcpspec").toString)
    val wire = new CWireServer(cat)
    withServer(wire.interpret) { port =>
      WireTcpClient.session(port) { send =>
        assert(send("list") == "START\nEND")
        assert(send("create foobar") == "Done")
        assert(send("create foobar") == "Exists")
        assert(send("set foobar test") == "Yes")
        assert(send("set foobar test") == "No")
        assert(send("check foobar test") == "Yes")
        assert(send("check foobar other") == "No")
        assert(send("multi foobar test test1 test2") == "Yes No No")
        assert(send("frobnicate x") == "Client Error: Command not supported")
        // \r\n framing tolerated (conn_handler strips the \r)
        assert(send("check foobar test\r") == "Yes")
        val info = send("info foobar")
        assert(info.startsWith("START\n") && info.endsWith("\nEND"))
        assert(info.contains("capacity 100000"))
        assert(send("drop foobar") == "Done")
      }
    }
  }

  test("Rust counting protocol over the socket") {
    val srv = new RustBloomServer(Files.createTempDirectory("tcprust").toString)
    withServer(srv.interpret) { port =>
      WireTcpClient.session(port) { send =>
        assert(send("create filter") == "Done")
        assert(send("check filter first") == "0")
        assert(send("set filter first") == "1")
        assert(send("s filter first") == "2")
        assert(send("c filter first") == "2")
        assert(send("multi filter first second") == "2 0")
        assert(send("drop filter") == "Done")
      }
    }
  }

  test("concurrent connections share one catalog consistently") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("tcpconc").toString)
    val wire = new CWireServer(cat)
    withServer(wire.interpret) { port =>
      WireTcpClient.session(port) { send => assert(send("create shared") == "Done") }
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          WireTcpClient.session(port) { send =>
            (0 until 50).foreach(i => send(s"set shared key_${t}_$i"))
          }
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      WireTcpClient.session(port) { send =>
        (0 until 4).foreach { t =>
          assert(send(s"check shared key_${t}_0") == "Yes")
          assert(send(s"check shared key_${t}_49") == "Yes")
        }
        val info = send("info shared")
        val size = info.linesIterator.find(_.startsWith("size ")).get.stripPrefix("size ").toLong
        assert(size == 200L)
      }
    }
  }

  test("pipelined batches are not held back by Nagle's algorithm") {
    val cat = new SketchCatalog(spark, Files.createTempDirectory("tcppipe").toString)
    val wire = new CWireServer(cat)
    withServer(wire.interpret) { port =>
      WireTcpClient.session(port) { send =>
        assert(send("create piped") == "Done")
        (0 until 8).foreach(i => assert(send(s"set piped in_$i") == "Yes"))
      }
      val sock = new Socket("127.0.0.1", port)
      try {
        val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
        val out = sock.getOutputStream
        // 16 commands per write, then read all 16 replies: with Nagle
        // on the server, every reply after the first waits for the
        // client's delayed ACK (~40 ms per batch)
        val cmds = (0 until 16).map(i => if (i % 2 == 0) s"in_${i / 2}" else s"out_$i")
        val batch = cmds.map(k => s"c piped $k\n").mkString.getBytes(UTF_8)
        def roundTrip(): Seq[String] = {
          out.write(batch)
          out.flush()
          cmds.map(_ => in.readLine())
        }
        val expected = cmds.map(k => if (k.startsWith("in_")) "Yes" else "No")
        assert(roundTrip() == expected) // warm the interpreter path
        val t0 = System.nanoTime()
        val replies = (0 until 20).map(_ => roundTrip())
        val elapsedMs = (System.nanoTime() - t0) / 1e6
        replies.foreach(r => assert(r == expected))
        assert(elapsedMs < 20 * 40 / 2, s"20 pipelined batches took $elapsedMs ms")
      } finally sock.close()
    }
  }
}
