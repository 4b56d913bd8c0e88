package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicLong

import graft.pipeline.ConfigNet

/** Datagram line receiver — the syslog/statsd-shaped ingest the
  * confignet datagram transports exist for (confignet.go's
  * udp/udp4/udp6/unixgram DialerConfig/AddrConfig shapes; the
  * reference core exposes them for exactly this class of receiver).
  * Each datagram carries newline-delimited UTF-8 text lines; every
  * datagram spools as ONE tmp+rename text file (the OtlpHttp spool
  * discipline — a reader never sees a partial write), and the
  * pipeline reads the spool as a STREAMING text source, so datagram
  * lines flow through the same processors/exporters as any other
  * signal.
  *
  * Datagram semantics are preserved, not papered over: delivery is
  * unordered and lossy BY PROTOCOL, so there is no ack/retry story
  * to fake — the receiver records exactly what arrived and counts
  * it. A datagram that fills the whole receive buffer may have been
  * truncated by the OS; it is KEPT (the syslog behavior) and counted
  * in `truncated_datagrams`, never dropped silently. Blank lines
  * vanish (a trailing newline is not a message); CR is stripped so
  * CRLF senders and LF senders spool identical content.
  */
object UdpLines {

  /** live tallies in the transports/healthFrame counters shape */
  final class Obs {
    val datagrams = new AtomicLong
    val lines = new AtomicLong
    val recvBytes = new AtomicLong
    val truncated = new AtomicLong
    /** receive-loop errors that were not shutdown (kept serving) */
    val errors = new AtomicLong
    def counters: Map[String, Long] = Map(
      "accepted_datagrams" -> datagrams.get, "accepted_lines" -> lines.get,
      "recv_bytes" -> recvBytes.get, "truncated_datagrams" -> truncated.get,
      "receive_errors" -> errors.get)
  }

  /** bind + serve on a daemon thread until [[stop]]; payloads land
    * under `<spoolDir>/lines/` */
  final class Server(transport: ConfigNet.DatagramTransport, port: Int,
                     spoolDir: String, maxDatagramBytes: Int = 65536) {
    require(maxDatagramBytes > 0, "maxDatagramBytes must be positive")
    val obs = new Obs
    private val srv = ConfigNet.listenDatagram(transport, port)
    private val counter = new AtomicLong
    private val dir = new java.io.File(spoolDir, "lines")
    dir.mkdirs()
    @volatile private var closed = false

    private val loop = new Thread(() => {
      val buf = new Array[Byte](maxDatagramBytes)
      while (!closed) {
        try {
          val n = srv.receive(buf)
          if (n > 0) {
            obs.datagrams.incrementAndGet()
            obs.recvBytes.addAndGet(n.toLong)
            if (n == maxDatagramBytes) obs.truncated.incrementAndGet()
            val ls = new String(buf, 0, n, UTF_8).split("\n", -1)
              .map(_.stripSuffix("\r")).filter(_.nonEmpty)
            if (ls.nonEmpty) {
              obs.lines.addAndGet(ls.length.toLong)
              Spool.commit(dir,
                f"dgram-${counter.incrementAndGet()}%08d-${System.nanoTime()}%x.txt",
                ls.mkString("\n").getBytes(UTF_8))
            }
          }
        } catch {
          case _: Throwable if closed => () // unblocked by stop()
          case _: Throwable =>
            obs.errors.incrementAndGet() // keep serving
            // a persistently-failing socket must not spin a core:
            // back off one tick before the next receive
            try Thread.sleep(10) catch { case _: InterruptedException => () }
        }
      }
    }, s"udp-lines-${srv.describe}")
    loop.setDaemon(true)
    loop.start()

    def boundPort: Int = srv.boundPort
    def describe: String = srv.describe

    def stop(): Unit = {
      closed = true
      srv.close() // unblocks the pending receive
      loop.join(2000)
    }
  }
}
