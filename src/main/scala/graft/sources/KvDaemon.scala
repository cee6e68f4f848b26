package graft.sources

import java.io.{BufferedReader, BufferedWriter, File, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Paths

import scala.collection.mutable

/** In-process TCP key-value daemon serving a committed [[KvSinkProvider]]
  * directory — the live-server fidelity piece of the Store analog. The
  * reference's Redis store talks a real network protocol: `getDataFromPat`
  * hscans the hash with a match pattern and COUNT-1000 paging and then
  * fetches matching fields (/root/reference/src/Core/Store.hs:99-119,
  * connection at src/ImplServer.hs:34-46). This daemon reproduces that
  * interaction shape over the sink's committed files, so the DSv2 source's
  * `mode=net` path exercises a socket round trip instead of local listing:
  *
  *  - **fields** are the committed file names (relative paths under the
  *    served directory, recursive); underscore/dot-prefixed entries —
  *    `_staging`, orphaned attempts — are never served, preserving the
  *    commit protocol's only-published-files-are-data invariant;
  *  - **SCAN cursor count [pattern]** pages field NAMES hscan-style: a
  *    stateless numeric cursor into the sorted listing, `0` reply cursor
  *    meaning exhausted (Redis convention), suffix `pattern` narrowing
  *    what the SERVER returns (the `*pat` match analog); each reply line
  *    `F <version> <field>` pins the field at its directory's log head;
  *  - **GET version field** streams one field's lines (`L <line>`...
  *    `END`) with the vectors live at that version applied — the
  *    per-split data fetch an executor makes, bounded by one task's
  *    committed output.
  *
  * Protocol is line-framed UTF-8; sink lines are percent-escaped (see
  * KvSink), so no value line can contain a raw newline and line framing
  * is safe. One daemon per served directory per JVM ([[ensure]] is
  * idempotent); accept/handler threads are JVM-daemon threads, so an
  * exiting driver is never blocked on the server.
  *
  * Scale shape: split PLANNING makes one SCAN paging pass (names only,
  * kilobytes); row data flows only through per-partition GETs, one per
  * executor task — the driver never materializes values, exactly like the
  * file path. */
object KvDaemon {

  /** Reference parity: Store.hs hscans with ScanOpts count 1000. */
  val PageCount = 1000

  private val servers = mutable.Map[String, Int]()

  /** Port of the daemon serving `dir`, starting one if needed. */
  def ensure(dir: String): Int =
    synchronized(servers.getOrElseUpdate(dir, start(dir)))

  private def start(dir: String): Int = {
    val ss = new ServerSocket()
    ss.bind(new InetSocketAddress(InetAddress.getByName("127.0.0.1"), 0), 64)
    val acceptor = new Thread(() => {
      while (!ss.isClosed) {
        try {
          val sock = ss.accept()
          val h = new Thread(() => handle(sock, dir), "graft-kv-daemon-conn")
          h.setDaemon(true)
          h.start()
        } catch { case _: Throwable => () }
      }
    }, s"graft-kv-daemon($dir)")
    acceptor.setDaemon(true)
    acceptor.start()
    ss.getLocalPort
  }

  /** Committed (visible) files under `root` as `<version> <field>`
    * references sorted by field: the field is the file's relative path,
    * suffix-filtered — the hscan match analog, applied server-side — and
    * the version is its directory's log head (0 when log-less). A
    * directory with a commit log serves ITS live view
    * ([[KvSnapshot.walk]]: REMOVE lines from row-level delete/overwrite
    * honored — a removed file is not a field, even though it stays on
    * disk for time travel). */
  private def listFields(root: File, pattern: String): Seq[String] = {
    val base = root.getAbsoluteFile.toPath
    KvSnapshot.walk(root.getPath, recursive = true)
      .map { case (f, v) => (base.relativize(Paths.get(f.file)).toString, v) }
      .filter(_._1.endsWith(pattern)).sortBy(_._1)
      .map { case (field, v) => s"$v $field" }
  }

  /** Traversal/hidden-path guard shared by GET and STATS. */
  private def badField(name: String): Boolean =
    name.contains("..") || name.startsWith("/") ||
      name.split("/").exists(s => s.startsWith("_") || s.startsWith("."))

  private def handle(sock: Socket, dir: String): Unit = {
    try {
      val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
      val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))
      var line = in.readLine()
      while (line != null) {
        val tok = line.split(" ", 4)
        tok(0) match {
          case "PING" =>
            out.write("PONG\n")
          case "SCAN" =>
            val cursor = tok(1).toInt
            val count = tok(2).toInt.max(1)
            val pattern = if (tok.length > 3) tok(3) else ""
            val fields = listFields(new File(dir), pattern)
            val page = fields.slice(cursor, cursor + count)
            val next = if (cursor + count >= fields.size) 0 else cursor + count
            out.write(s"CUR $next\n")
            page.foreach(f => out.write(s"F $f\n"))
            out.write("END\n")
          case "GET" =>
            // `GET <version> <field>`: deletion vectors apply server-side
            // at the version SCAN listed the field at — the client never
            // sees vector-deleted data (KvDv), and a commit between
            // planning and reading (purge_dvs, compact, a CoW delete)
            // cannot tear the read
            line.substring(4).split(" ", 2) match {
              case Array(v, name) if v.nonEmpty && v.forall(_.isDigit) &&
                  !badField(name) =>
                try {
                  val data = new File(dir, name)
                  val lines = KvSnapshot.lines(
                    KvSnapshot.file(data.getParent, data.getName, v.toInt))
                  try lines.foreach(l => out.write(s"L $l\n"))
                  finally lines.close()
                  out.write("END\n")
                } catch { case e: Exception =>
                  // e.g. the version was vacuumed: fail the read loudly
                  out.write(s"ERR ${String.valueOf(e.getMessage)
                    .replace('\n', ' ')}\n")
                }
              case _ => out.write("ERR bad field name\n")
            }
          case "STATS" =>
            // serve a field's committed zone-map sidecar (server-side
            // stats, the analog of a KV cluster answering OBJECT/DEBUG
            // metadata): the SERVER resolves the hidden sidecar path
            // from the visible field name — clients never name hidden
            // paths, the GET traversal guard stays intact. A statless
            // field replies bare END (client: never prune).
            val name = line.substring(6)
            if (badField(name)) {
              out.write("ERR bad field name\n")
            } else {
              val data = new File(dir, name)
              val side = new File(data.getParentFile,
                KvZoneMap.sidecarName(data.getName))
              if (side.isFile) {
                val src = scala.io.Source.fromFile(side, "UTF-8")
                try src.getLines().foreach(l => out.write(s"S $l\n"))
                finally src.close()
              }
              out.write("END\n")
            }
          case "QUIT" =>
            sock.close()
            return
          case _ =>
            out.write("ERR unknown command\n")
        }
        out.flush()
        line = in.readLine()
      }
    } catch { case _: Throwable => () }
    finally { try sock.close() catch { case _: Throwable => () } }
  }

  // ---- client side (used by the DSv2 source's mode=net path) ----

  private def connect(endpoint: String): (Socket, BufferedReader, BufferedWriter) = {
    val Array(host, port) = endpoint.split(":", 2)
    val sock = new Socket(host, port.toInt)
    val in = new BufferedReader(new InputStreamReader(sock.getInputStream, UTF_8))
    val out = new BufferedWriter(new OutputStreamWriter(sock.getOutputStream, UTF_8))
    (sock, in, out)
  }

  /** Full field listing via cursor paging — the driver-side split
    * planning call. Pages until the server returns cursor 0. Each entry
    * is a `<version> <field>` reference (see [[listFields]]). */
  def scanFields(endpoint: String, pattern: String): Seq[String] = {
    val (sock, in, out) = connect(endpoint)
    try {
      val fields = mutable.ArrayBuffer[String]()
      var cursor = 0
      var done = false
      while (!done) {
        out.write(s"SCAN $cursor $PageCount $pattern\n")
        out.flush()
        val head = in.readLine()
        require(head != null && head.startsWith("CUR "), s"kv daemon: bad reply $head")
        cursor = head.substring(4).toInt
        var l = in.readLine()
        while (l != null && l != "END") {
          require(l.startsWith("F "), s"kv daemon: bad field line $l")
          fields += l.substring(2)
          l = in.readLine()
        }
        done = cursor == 0
      }
      out.write("QUIT\n")
      out.flush()
      fields.toSeq
    } finally sock.close()
  }

  /** Committed zone-map stats for MANY fields over ONE connection — the
    * split-planning pruning call. A per-field connection pays O(fields)
    * sequential connect/QUIT round trips on the driver (r11 ADVICE); the
    * daemon's handler loop already serves multiple commands per
    * connection, so pruning a large store is one socket and `fields`
    * pipelined STATS exchanges. Fields without a sidecar map to None
    * (never prune without stats). */
  def statsForMany(endpoint: String,
      fields: Seq[String]): Map[String, Option[KvZoneMap.Stats]] = {
    if (fields.isEmpty) return Map.empty
    val (sock, in, out) = connect(endpoint)
    try {
      val result = fields.map { field =>
        out.write(s"STATS $field\n")
        out.flush()
        val lines = mutable.ArrayBuffer[String]()
        var l = in.readLine()
        while (l != null && l != "END") {
          require(l.startsWith("S "), s"kv daemon: bad stats line $l")
          lines += l.substring(2)
          l = in.readLine()
        }
        field -> (if (lines.isEmpty) None else KvZoneMap.parseLines(lines.iterator))
      }.toMap
      out.write("QUIT\n")
      out.flush()
      result
    } finally sock.close()
  }

  /** Streaming line fetch of one field — the per-task data read. The
    * returned iterator holds the socket open until exhausted or
    * `close()`d. */
  final class FieldLines(endpoint: String, field: String, version: Int)
      extends Iterator[String] with AutoCloseable {
    private val (sock, in, out) = connect(endpoint)
    out.write(s"GET $version $field\n")
    out.flush()
    private var nextLine: String = advance()

    private def advance(): String = {
      val l = in.readLine()
      if (l == null || l == "END") { close(); null }
      else if (l.startsWith("L ")) l.substring(2)
      else throw new IllegalStateException(s"kv daemon: $l")
    }

    override def hasNext: Boolean = nextLine != null
    override def next(): String = {
      val r = nextLine
      nextLine = advance()
      r
    }
    override def close(): Unit = try sock.close() catch { case _: Throwable => () }
  }
}
