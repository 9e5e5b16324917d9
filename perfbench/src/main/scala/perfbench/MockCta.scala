package perfbench

import java.net.InetSocketAddress

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Mock `ttpositions.aspx`, single-threaded: the JDK server's dispatcher
  * thread runs every handler. Start with `-Dsun.net.httpserver.nodelay=true`
  * or each response waits out a delayed ACK.
  *
  * Args: bodies file (one `LINE<TAB>body` per line, in cycle order), port
  * file to write once listening, and optionally the 1-based request number
  * to answer with HTTP 500 (a self-test of failure accounting).
  *
  * The k-th request for a line gets that line's k-th body (mod the cycle
  * count); `rt=PROBE` always gets the first Red body without advancing
  * anything. `/reset` rewinds every line, `/stats` reports request counts
  * and this process's own service time per request, `/stop` exits. */
object MockCta {
  def main(args: Array[String]): Unit = {
    val bodies: Map[String, IndexedSeq[Array[Byte]]] = {
      val src = scala.io.Source.fromFile(args(0), "UTF-8")
      try src.getLines().map { l =>
        val i = l.indexOf('\t'); l.take(i) -> l.drop(i + 1).getBytes("UTF-8")
      }.toVector.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      finally src.close()
    }
    val fail500 = if (args.length > 2) args(2).toLong else -1L
    val next = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    var requests = 0L
    var failed = 0L
    var probes = 0L
    val serviceUs = scala.collection.mutable.ArrayBuffer[Double]()
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    val done = new java.util.concurrent.CountDownLatch(1)

    def reply(ex: HttpExchange, status: Int, body: Array[Byte]): Unit = {
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    }

    server.createContext("/ttpositions.aspx", ex => {
      val t = System.nanoTime()
      val rt = Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
        .collectFirst { case kv if kv.startsWith("rt=") => kv.drop(3) }.getOrElse("")
      requests += 1
      if (requests == fail500) {
        failed += 1
        reply(ex, 500, "injected failure".getBytes("UTF-8"))
      } else if (rt == "PROBE") {
        probes += 1
        reply(ex, 200, bodies("Red")(0))
      }
      else bodies.get(rt) match {
        case Some(bs) =>
          val k = next(rt)
          next(rt) = k + 1
          reply(ex, 200, bs(k % bs.size))
        case None => reply(ex, 404, Array.emptyByteArray)
      }
      serviceUs += (System.nanoTime() - t) / 1e3
    })
    server.createContext("/reset", ex => {
      next.clear()
      reply(ex, 200, "ok".getBytes("UTF-8"))
    })
    server.createContext("/stats", ex => {
      val s = serviceUs.sorted
      def q(p: Double) = if (s.isEmpty) 0.0 else s(((s.size - 1) * p).round.toInt) / 1e3
      reply(ex, 200, Json.obj(Seq("requests" -> requests.toString,
        "failed" -> failed.toString, "probes" -> probes.toString,
        "service_ms_p50" -> Json.num(q(0.5)), "service_ms_p95" -> Json.num(q(0.95))))
        .getBytes("UTF-8"))
    })
    server.createContext("/stop", ex => {
      reply(ex, 200, "bye".getBytes("UTF-8"))
      done.countDown()
    })
    server.setExecutor(null)
    server.start()
    val port = server.getAddress.getPort
    val tmp = java.nio.file.Paths.get(args(1) + ".tmp")
    java.nio.file.Files.write(tmp, port.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(args(1)),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    done.await()
    server.stop(0)
  }
}
