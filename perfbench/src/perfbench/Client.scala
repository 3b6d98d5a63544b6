package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** One HTTP/1.1 keep-alive connection, driven by the calling thread: the
  * closed-loop client sends its next request only after the previous reply
  * is fully read. Replies must carry Content-Length, which the server's
  * transport always sets for a non-empty body. */
final class Client(port: Int) extends AutoCloseable {
  private val sock = new Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  private val in = new BufferedInputStream(sock.getInputStream)
  private val out = new BufferedOutputStream(sock.getOutputStream)

  def get(pathAndQuery: String): (Int, String) = send("GET", pathAndQuery, "")
  def post(path: String, json: String): (Int, String) = send("POST", path, json)

  private def send(method: String, path: String, body: String): (Int, String) = {
    val b = body.getBytes(UTF_8)
    out.write((s"$method $path HTTP/1.1\r\nHost: localhost\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n")
      .getBytes(US_ASCII))
    out.write(b)
    out.flush()
    val status = readLine().split(' ')(1).toInt
    var length = -1
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim.equalsIgnoreCase("content-length"))
        length = line.substring(i + 1).trim.toInt
      line = readLine()
    }
    require(length >= 0, s"$method $path: reply without Content-Length")
    (status, new String(in.readNBytes(length), UTF_8))
  }

  private def readLine(): String = {
    val buf = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      require(c >= 0, "connection closed by server")
      if (c != '\r') buf.write(c)
      c = in.read()
    }
    buf.toString(US_ASCII)
  }

  def close(): Unit = sock.close()
}
