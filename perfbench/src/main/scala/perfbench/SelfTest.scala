package perfbench

import java.net.InetSocketAddress

import com.sun.net.httpserver.HttpServer

/** The benchmark's own test: streams that end early or carry the wrong
  * content must count as failed ops, even when the server answers 200.
  * Serves one seeded stream whole, without its EOS marker, and cut in
  * the middle of a message, and checks each through the same op path
  * the workloads use. Exits 0 when every case is classified right.
  *
  *   python3 perfbench/run.py --selftest
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val p = IngestScan.payload("selftest", 7L)
    val bytes = p.arrow
    val bodies = Map(
      "/whole" -> bytes,
      "/no-eos" -> bytes.dropRight(8),
      "/cut" -> bytes.take(bytes.length / 2))
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    bodies.foreach { case (path, b) =>
      server.createContext(path, ex => {
        ex.sendResponseHeaders(200, 0)
        ex.getResponseBody.write(b)
        ex.close()
      })
    }
    server.start()
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val client = new Client(30)
    val now = java.time.Instant.now()
    val h = new Harness(new Trace(false), now.getEpochSecond * 1000000000L + now.getNano, opTimeoutS = 30,
      runTimeoutS = 120, emit = _ => ())
    val wrong = p.sum.copy(cols = p.sum.cols.updated(0, p.sum.cols(0) ^ 1L))
    val cases = Seq(
      ("whole stream, right checksum", "/whole", p.sum, true),
      ("whole stream, wrong checksum", "/whole", wrong, false),
      ("truncated before EOS", "/no-eos", p.sum, false),
      ("truncated mid-message", "/cut", p.sum, false))
    val results = cases.zipWithIndex.map { case ((what, path, want, expectOk), i) =>
      val o = h.op(i, "selftest")(t0 => client.get(base + path, Nil) { (code, coding, in) =>
        ServeCodings.check(what, code, coding, in, None, IngestScan.rows, want, h.trace, t0)
      })
      val pass = o.ok == expectOk
      println(s"selftest: ${if (pass) "PASS" else "FAIL"} $what: op counted " +
        (if (o.ok) "ok" else "failed"))
      pass
    }
    server.stop(0)
    h.finish()
    if (results.forall(identity)) println("selftest: all cases classified correctly")
    System.exit(if (results.forall(identity)) 0 else 1)
  }
}
