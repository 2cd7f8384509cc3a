package graft.commands

import java.net.{ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** Multi-client SQL-over-socket server — the reference's `SharedServer`
  * (`server/SharedServer.java:40-56`): an accept loop spawning one handler
  * thread per client, each statement parsed/executed against the SHARED
  * engine, results streamed back (`server/TupleSender.java`). Here the
  * engine is [[graft.Engine]] and result framing is [[TupleServer]]'s CSV.
  *
  * Wire protocol (line-oriented, one request line = one SQL statement):
  * the response is a header line, the data rows (CSV, RFC-4180 quoting),
  * then exactly one terminator — `OK <rowcount>` on success or
  * `ERR <message>` on failure. Errors are returned as status lines, never
  * by killing the handler: a bad statement leaves the connection usable
  * (the reference's `ClientHandler` does the same).
  *
  * Concurrency lives in the engine, which owns the state it protects
  * (see the statement-concurrency note in [[graft.Engine]]): a plain
  * SELECT/WITH waits only for the short commit section of a rewrite, not
  * for its copy-on-write staging, and leases the table versions it planned
  * against until its rows have streamed ([[graft.Engine.withResult]]), so
  * a concurrent UPDATE/DELETE/MERGE/OPTIMIZE cannot sweep them mid-stream.
  * Row STREAMING runs outside every lock, so long results from concurrent
  * clients interleave and a slow reader never blocks another client's
  * statements. The client edge is inherently a single point (like
  * `df.show`); compute stays distributed and rows cross the driver one
  * partition at a time via `toLocalIterator` — concurrent clients on a
  * 1000-executor cluster each cost one partition of driver memory, not a
  * collect.
  *
  * [[close]] stops accepting and hangs up every connected client, so no
  * handler keeps serving through an engine its owner closes next.
  */
final class SharedServer(engine: graft.Engine, port: Int = 0)
    extends AutoCloseable {

  private val server = new ServerSocket(port)
  @volatile private var closed = false
  private val clients = java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** The bound port (useful with the default ephemeral bind). */
  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    // the accept loop must survive ANY per-connection failure (thread
    // creation included) — a dead acceptor is a server that looks alive
    // but accepts no one. It exits only when close() is called or the
    // listening socket itself is gone (which would otherwise hot-spin).
    while (!closed && !server.isClosed) {
      try {
        val client = server.accept()
        clients.add(client)
        // close() may have swept the set just before this add
        if (closed) client.close()
        try {
          val h = new Thread(() => handle(client),
            s"graft-client-${client.getPort}")
          h.setDaemon(true)
          h.start()
        } catch {
          case e: Throwable =>
            client.close()
            System.err.println(s"[graft-server] handler spawn failed: $e")
        }
      } catch {
        case _: Throwable if closed => () // close() unblocked accept()
        case e: Throwable =>
          System.err.println(s"[graft-server] accept failed: $e")
      }
    }
  }, "graft-shared-server")
  acceptor.setDaemon(true)
  acceptor.start()

  private def handle(client: Socket): Unit = {
    try {
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(client.getInputStream, UTF_8))
      val out = new java.io.PrintWriter(new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(client.getOutputStream, UTF_8)))
      var line = in.readLine()
      var open = true
      while (open && line != null) {
        if (line.trim.nonEmpty) {
          try {
            engine.withResult(line) { df =>
              out.println(df.columns.mkString(","))
              var n = 0L
              df.toLocalIterator().forEachRemaining { row =>
                out.println(TupleServer.csvLine(row)); n += 1
              }
              out.println(s"OK $n")
            }
          } catch {
            case e: Throwable =>
              out.println("ERR " + Option(e.getMessage)
                .getOrElse(e.getClass.getSimpleName)
                .replaceAll("[\r\n]+", " ").take(500))
          }
          out.flush()
          if (out.checkError())
            throw new java.io.IOException("client disconnected")
          // EXIT/QUIT (reference ExitCommand): acknowledge, then hang up —
          // only this client's session ends, the server keeps serving
          if (line match { case engine.exitStmt() => true; case _ => false })
            open = false
        }
        if (open) line = in.readLine()
      }
    } catch {
      // one client's death (mid-stream disconnect included) never takes
      // the server down; remaining clients keep their handlers
      case _: Throwable => ()
    } finally {
      clients.remove(client)
      client.close()
    }
  }

  override def close(): Unit = {
    closed = true
    server.close()
    clients.forEach(c => try c.close() catch { case _: java.io.IOException => () })
  }
}
