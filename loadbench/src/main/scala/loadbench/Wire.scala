package loadbench

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

/** A MySQL protocol-4.1 client written from the public protocol docs, so
  * the benchmark exercises the server the way an outside client does: the
  * handshake, COM_QUERY text result sets, COM_PING and COM_STMT_PREPARE /
  * COM_STMT_EXECUTE binary result sets. Every value is decoded to its
  * text-protocol spelling and rows are digested as they arrive, so results
  * of both protocols compare against one reference.
  *
  * The packet counter is kept per connection; the harness reads it before
  * and after each request. */
final class Wire(port: Int, user: String) {
  private val sock = new Socket()
  private lazy val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private lazy val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)

  var packetsIn = 0L

  private def readFully(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(b, off, n - off)
      if (k < 0) throw new EOFException("server closed the connection")
      off += k
    }
    b
  }

  private def readPacket(): Array[Byte] = {
    val buf = new ByteArrayOutputStream()
    var more = true
    while (more) {
      val h = readFully(4)
      val len = (h(0) & 0xFF) | ((h(1) & 0xFF) << 8) | ((h(2) & 0xFF) << 16)
      if (len > 0) buf.write(readFully(len), 0, len)
      more = len == 0xFFFFFF
      packetsIn += 1
    }
    buf.toByteArray
  }

  private var seq = 0

  /** The server's connection (thread) id from the greeting. */
  var threadId = 0L

  /** Milliseconds from TCP connect to the auth OK packet. */
  val connectMs: Double = {
    val t0 = System.nanoTime()
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    sock.setTcpNoDelay(true)
    sock.setSoTimeout(170000)
    login()
    (System.nanoTime() - t0) / 1e6
  }

  private def writePacket(payload: Array[Byte]): Unit = {
    var off = 0
    var more = true
    while (more) {
      val n = math.min(0xFFFFFF, payload.length - off)
      out.write(n & 0xFF); out.write((n >>> 8) & 0xFF)
      out.write((n >>> 16) & 0xFF); out.write(seq & 0xFF)
      out.write(payload, off, n)
      off += n; seq += 1
      more = n == 0xFFFFFF
    }
  }

  private def command(payload: Array[Byte]): Unit = {
    seq = 0
    writePacket(payload)
    out.flush()
  }

  private def le(v: Long, n: Int, b: ByteArrayOutputStream): Unit =
    (0 until n).foreach(k => b.write(((v >>> (8 * k)) & 0xFF).toInt))

  private def login(): Unit = {
    val greeting = readPacket() // the server accepts any credential
    var v = 1
    while (greeting(v) != 0) v += 1
    threadId = new Wire.Reader(greeting, v + 1).int4().toLong & 0xFFFFFFFFL
    val b = new ByteArrayOutputStream()
    // 4.1 protocol | secure connection | plugin auth
    le(0x00000200L | 0x00008000L | 0x00080000L, 4, b)
    le(1L << 24, 4, b)
    b.write(46) // utf8mb4
    (1 to 23).foreach(_ => b.write(0))
    b.write(user.getBytes(UTF_8)); b.write(0)
    b.write(0) // empty auth response
    b.write("mysql_native_password".getBytes(UTF_8)); b.write(0)
    seq = 1
    writePacket(b.toByteArray)
    out.flush()
    val ok = readPacket()
    if ((ok(0) & 0xFF) != 0x00) throw Wire.Failure(errText(ok))
  }

  private def errText(p: Array[Byte]): String =
    if ((p(0) & 0xFF) == 0xFF && p.length > 9)
      new String(p, 9, p.length - 9, UTF_8)
    else s"unexpected packet 0x${(p(0) & 0xFF).toHexString}"

  /** COM_QUERY; the text result set's rows, or an empty result for OK. */
  def query(sql: String): Wire.Result = {
    command(Array[Byte](0x03) ++ sql.getBytes(UTF_8))
    readResult(binary = false)
  }

  /** COM_PING. */
  def ping(): Wire.Result = {
    command(Array[Byte](0x0E))
    val p = readPacket()
    if ((p(0) & 0xFF) != 0x00) throw Wire.Failure(errText(p))
    Wire.Result(Digest.empty, 0L)
  }

  /** COM_STMT_PREPARE; returns the statement id. */
  def prepare(sql: String): Long = {
    command(Array[Byte](0x16) ++ sql.getBytes(UTF_8))
    val p = readPacket()
    if ((p(0) & 0xFF) != 0x00) throw Wire.Failure(errText(p))
    val r = new Wire.Reader(p, 1)
    val id = r.int4()
    val ncols = r.int2()
    val nparams = r.int2()
    if (nparams > 0) { (1 to nparams).foreach(_ => readPacket()); readPacket() }
    if (ncols > 0) { (1 to ncols).foreach(_ => readPacket()); readPacket() }
    id
  }

  /** COM_STMT_EXECUTE with LONGLONG parameters; binary result set. */
  def execute(stmt: Long, params: Seq[Long]): Wire.Result = {
    val b = new ByteArrayOutputStream()
    b.write(0x17)
    le(stmt, 4, b)
    b.write(0) // no cursor
    le(1L, 4, b)
    if (params.nonEmpty) {
      (1 to (params.length + 7) / 8).foreach(_ => b.write(0)) // null bitmap
      b.write(1) // new params bound
      params.foreach(_ => { b.write(0x08); b.write(0) })
      params.foreach(v => le(v, 8, b))
    }
    command(b.toByteArray)
    readResult(binary = true)
  }

  private def readResult(binary: Boolean): Wire.Result = {
    val first = readPacket()
    (first(0) & 0xFF) match {
      case 0xFF => throw Wire.Failure(errText(first))
      case 0x00 => Wire.Result(Digest.empty, 0L)
      case _ =>
        val ncols = new Wire.Reader(first, 0).lenenc().toInt
        val types = (1 to ncols).map { _ =>
          val r = new Wire.Reader(readPacket(), 0)
          (1 to 6).foreach(_ => r.lenencBytes())
          r.lenenc(); r.int2(); r.int4()
          r.int1()
        }.toArray
        val eof = readPacket()
        if ((eof(0) & 0xFF) != 0xFE) throw Wire.Failure("missing column EOF")
        var n = 0L
        var sum = 0L
        var bytes = 0L
        var done = false
        while (!done) {
          val p = readPacket()
          val h = p(0) & 0xFF
          if (h == 0xFE && p.length < 9) done = true
          else if (h == 0xFF) throw Wire.Failure(errText(p))
          else {
            bytes += p.length
            n += 1
            sum += Digest.ofRow(if (binary) Wire.binaryRow(p, types) else Wire.textRow(p, ncols))
          }
        }
        Wire.Result(Digest(n, sum), bytes)
    }
  }

  def close(): Unit = {
    try command(Array[Byte](0x01)) catch { case _: Exception => () }
    try sock.close() catch { case _: Exception => () }
  }
}

object Wire {
  final case class Failure(msg: String) extends RuntimeException(msg)

  /** The result rows' digest (of their text values) and payload bytes. */
  final case class Result(digest: Digest, bytes: Long)

  final class Reader(p: Array[Byte], start: Int) {
    private var i = start
    def int1(): Int = { val v = p(i) & 0xFF; i += 1; v }
    def int2(): Int = int1() | (int1() << 8)
    def int4(): Int = int2() | (int2() << 16)
    def int8(): Long = (int4().toLong & 0xFFFFFFFFL) | (int4().toLong << 32)
    def lenenc(): Long = int1() match {
      case 0xFC => int2().toLong
      case 0xFD => (int2() | (int1() << 16)).toLong
      case 0xFE => int8()
      case v => v.toLong
    }
    def lenencBytes(): Array[Byte] = {
      val n = lenenc().toInt
      val b = java.util.Arrays.copyOfRange(p, i, i + n)
      i += n
      b
    }
    def atNull: Boolean = (p(i) & 0xFF) == 0xFB
  }

  private def textRow(p: Array[Byte], ncols: Int): Array[String] = {
    val r = new Reader(p, 0)
    Array.fill(ncols) {
      if (r.atNull) { r.int1(); null } else new String(r.lenencBytes(), UTF_8)
    }
  }

  /** Binary row → the server's text spelling of each value. */
  private def binaryRow(p: Array[Byte], types: Array[Int]): Array[String] = {
    val n = types.length
    val bitmap = java.util.Arrays.copyOfRange(p, 1, 1 + (n + 9) / 8)
    val r = new Reader(p, 1 + bitmap.length)
    Array.tabulate(n) { c =>
      if ((bitmap((c + 2) / 8) & (1 << ((c + 2) % 8))) != 0) null
      else types(c) match {
        case 0x01 => r.int1().toByte.toString
        case 0x02 => r.int2().toShort.toString
        case 0x03 => r.int4().toString
        case 0x08 => r.int8().toString
        case 0x04 => java.lang.Float.intBitsToFloat(r.int4()).toString
        case 0x05 => java.lang.Double.longBitsToDouble(r.int8()).toString
        case 0x0A =>
          val len = r.int1()
          if (len == 0) "0000-00-00"
          else f"${r.int2()}%04d-${r.int1()}%02d-${r.int1()}%02d"
        case 0x0C | 0x07 =>
          val len = r.int1()
          val (y, mo, d) = if (len >= 4) (r.int2(), r.int1(), r.int1()) else (0, 0, 0)
          val (h, mi, s) = if (len >= 7) (r.int1(), r.int1(), r.int1()) else (0, 0, 0)
          val us = if (len >= 11) r.int4() else 0
          val base = f"$y%04d-$mo%02d-$d%02d $h%02d:$mi%02d:$s%02d"
          if (us == 0) base else f"$base.$us%06d"
        case _ => new String(r.lenencBytes(), UTF_8)
      }
    }
  }
}
