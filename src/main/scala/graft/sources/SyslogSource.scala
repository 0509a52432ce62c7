package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, Socket, StandardProtocolFamily, UnixDomainSocketAddress}
import java.nio.ByteBuffer
import java.nio.channels.{ServerSocketChannel, SocketChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.LineBufferMicroBatchStream.Listener

/** Native syslog streaming source (DataSource V2) — the reference's syslog
  * server (S4, `/root/reference/internal/services/syslog/syslog.go:33-53`
  * binds TCP/UDP/unixgram listeners against one handler and one channel).
  * Each configured listener appends into the one driver buffer of a
  * [[LineBufferMicroBatchStream]]; each line is one log record.
  *
  * Usage: `spark.readStream.format("syslog").option("tcp", "host:port")
  * .option("udp", "bind:port").option("unix", path).load()`, any non-empty
  * subset of the three → one `value: String` column; strip the RFC3164
  * envelope with [[graft.streaming.StreamingIngest.stripSyslogEnvelope]].
  *
  *   - `tcp` DIALS a remote emitter at `host:port` and reads
  *     newline-delimited lines from that one connection.
  *   - `udp` BINDS a local datagram listener; one datagram = one RFC3164
  *     message, a datagram carrying several newline-separated lines yields
  *     one record per line. Fire-and-forget: delivery is not guaranteed even
  *     transport-level (the reference documents the same, `README.md:545`).
  *   - `unix` BINDS an AF_UNIX stream listener at the path (the JDK supports
  *     AF_UNIX STREAM channels, Java 16+, not datagram): local emitters
  *     (`logger -u /path`, rsyslog omuxsock in stream mode, or any app)
  *     connect and write newline-delimited messages. A pre-existing socket
  *     file at the path is removed on bind (standard daemon behavior).
  *
  * Listeners start with the query's first micro-batch; a source with none
  * of the three options fails at query start.
  */
class SyslogSourceProvider extends LineBufferSourceProvider("syslog", SyslogSource.listeners)

private[sources] object SyslogSource {

  def listeners(options: CaseInsensitiveStringMap): Seq[Listener] = {
    def opt(k: String) = Option(options.get(k))
    val ls = opt("tcp").map { v => val (h, p) = hostPort("tcp", v); tcp(h, p) }.toSeq ++
      opt("udp").map { v => val (b, p) = hostPort("udp", v); udp(b, p) } ++
      opt("unix").map(unix)
    if (ls.isEmpty) throw new IllegalArgumentException(
      "syslog source requires at least one of options 'tcp' (host:port), " +
        "'udp' (bind:port) or 'unix' (socket path)")
    ls
  }

  private def hostPort(option: String, v: String): (String, Int) = {
    val i = v.lastIndexOf(':')
    val port = if (i > 0) v.substring(i + 1).toIntOption else None
    (v.take(i), port.getOrElse(throw new IllegalArgumentException(
      s"syslog option '$option' must be host:port, got '$v'")))
  }

  def tcp(host: String, port: Int): Listener = append => {
    val socket = new Socket(host, port)
    val in = new BufferedReader(new InputStreamReader(
      socket.getInputStream, StandardCharsets.UTF_8))
    val t = new Thread(() => {
      try {
        var line = in.readLine()
        while (line != null) {
          append(line)
          line = in.readLine()
        }
      } catch { case _: Throwable => () } // socket closed on stop()
    }, s"syslog-tcp-$host:$port")
    t.setDaemon(true)
    t.start()
    socket
  }

  def udp(bind: String, port: Int): Listener = append => {
    val socket = new DatagramSocket(new InetSocketAddress(bind, port))
    val t = new Thread(() => {
      val buf = new Array[Byte](65507) // max UDP payload
      try {
        while (!socket.isClosed) {
          val packet = new DatagramPacket(buf, buf.length)
          socket.receive(packet)
          val payload = new String(packet.getData, packet.getOffset,
            packet.getLength, StandardCharsets.UTF_8)
          payload.split("\n").foreach { line =>
            val l = line.stripSuffix("\r")
            if (l.nonEmpty) append(l)
          }
        }
      } catch { case _: Throwable => () } // socket closed on stop()
    }, s"syslog-udp-$bind:$port")
    t.setDaemon(true)
    t.start()
    socket
  }

  def unix(path: String): Listener = append => {
    Files.deleteIfExists(Paths.get(path))
    val server = ServerSocketChannel.open(StandardProtocolFamily.UNIX)
    server.bind(UnixDomainSocketAddress.of(path))
    val acceptor = new Thread(() => {
      try {
        while (server.isOpen) {
          val conn = server.accept()
          val reader = new Thread(() => pump(conn, append), s"syslog-unix-conn")
          reader.setDaemon(true)
          reader.start()
        }
      } catch { case _: Throwable => () } // channel closed on stop()
    }, s"syslog-unix-$path")
    acceptor.setDaemon(true)
    acceptor.start()
    () => try server.close() finally Files.deleteIfExists(Paths.get(path))
  }

  /** Read a connection to EOF, emitting complete newline-delimited lines.
    * A persistent per-connection CharsetDecoder with `endOfInput=false`
    * carries a multi-byte UTF-8 sequence split across a read boundary over
    * to the next chunk (a fresh `UTF_8.decode` per chunk would replace the
    * partial sequence with U+FFFD, corrupting the message).
    */
  private def pump(conn: SocketChannel, append: String => Unit): Unit = {
    val buf = ByteBuffer.allocate(64 * 1024)
    val chars = java.nio.CharBuffer.allocate(64 * 1024)
    val decoder = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(java.nio.charset.CodingErrorAction.REPLACE)
      .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPLACE)
    val pending = new StringBuilder
    def drain(endOfInput: Boolean): Unit = {
      buf.flip()
      var res = decoder.decode(buf, chars, endOfInput)
      while (res.isOverflow) {
        chars.flip(); pending.append(chars); chars.clear()
        res = decoder.decode(buf, chars, endOfInput)
      }
      if (endOfInput) {
        var fl = decoder.flush(chars)
        while (fl.isOverflow) {
          chars.flip(); pending.append(chars); chars.clear()
          fl = decoder.flush(chars)
        }
      }
      chars.flip(); pending.append(chars); chars.clear()
      buf.compact() // keep any trailing partial byte sequence for next read
    }
    try {
      while (conn.read(buf) >= 0) {
        drain(endOfInput = false)
        var nl = pending.indexOf("\n")
        while (nl >= 0) {
          val line = pending.substring(0, nl).stripSuffix("\r")
          if (line.nonEmpty) append(line)
          pending.delete(0, nl + 1)
          nl = pending.indexOf("\n")
        }
      }
      drain(endOfInput = true)
      // trailing unterminated line on close counts as a message
      val tail = pending.toString.stripSuffix("\r")
      if (tail.nonEmpty) append(tail)
    } catch { case _: Throwable => () }
    finally { try conn.close() catch { case _: Throwable => () } }
  }
}
