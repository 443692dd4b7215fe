package graft.query

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types._

/** PostgreSQL wire-protocol (v3) front end for the SQL gateway —
  * SURVEY §2.10 Q8 closed natively.
  *
  * The reference fronts DuckDB with the Buena Vista postgres proxy so
  * dbt and the dashboard can query ONE warehouse concurrently over the
  * postgres protocol (`dbt/profiles.yml:7-14` — host 0.0.0.0 port 5433,
  * `docker-compose.yaml:11`). This is the same surface speaking to
  * Spark: a listener implementing the publicly documented protocol
  * (postgresql.org/docs/current/protocol-message-formats.html) straight
  * over `ServerSocket` — no driver jar, no framework.
  *
  * Supported flow, enough for real clients (psql, JDBC, psycopg):
  *  - SSLRequest → refused with 'N' (cleartext localhost gateway);
  *    GSSENCRequest likewise; CancelRequest → the target session's
  *    Spark job group is cancelled iff the BackendKeyData secret
  *    matches (postgres's out-of-band Ctrl-C, wired to
  *    `cancelJobGroup` with task interruption).
  *  - StartupMessage(3.0) → AuthenticationOk (trust — same trust model
  *    as the HTTP gateway and Buena Vista's default), ParameterStatus
  *    basics, BackendKeyData, ReadyForQuery.
  *  - Simple protocol: 'Q' → RowDescription / DataRow* /
  *    CommandComplete / ReadyForQuery; empty string →
  *    EmptyQueryResponse; failures → ErrorResponse then ReadyForQuery
  *    (a bad query is a result — the connection stays usable).
  *  - COPY sub-protocol, export face: `COPY (query) TO STDOUT` /
  *    `COPY table [(cols)] TO STDOUT` → CopyOutResponse / CopyData* /
  *    CopyDone / CommandComplete, in postgres TEXT format (tab, `\N`,
  *    control escapes) or CSV (`FORMAT csv`, optional `HEADER`) — the
  *    bulk path psql `\copy ... to` and pgJDBC CopyManager.copyOut
  *    speak; rows stream via toLocalIterator with NO row cap (bulk
  *    export is the point). `COPY ... FROM STDIN` refuses with 0A000.
  *  - Extended protocol: Parse/Bind/Describe/Execute/Close/Flush/Sync,
  *    including `$n` parameter binding in BOTH wire formats: Bind's
  *    values are substituted into the statement as typed SQL literals
  *    (typed by the Parse message's declared OIDs; numeric/bool/
  *    temporal values are validated before they are inlined, strings
  *    are escaped — a parameter can never alter the statement shape),
  *    which is how psycopg2 `execute(sql, params)` and pgJDBC
  *    PreparedStatement work against this gateway. Binary-format
  *    parameters (network-order numerics, 1-byte bool, postgres-epoch
  *    date/timestamp, utf8 text) decode to the same validated literal
  *    path; an oid with no binary decoding gets a clean 0A000, never a
  *    guess. Errors put the connection in the protocol's
  *    skip-until-Sync state.
  *
  * Execution: every statement runs `spark.sql` on the connection's
  * handler thread — concurrent clients interleave inside one
  * SparkContext exactly like the HTTP gateway's request pool (that
  * concurrency is the one thing the reference added the proxy FOR).
  * By default all connections share one SparkSession catalog (the
  * reference proxy's semantics: dbt materializes views on one
  * connection, a dashboard reads them on another); pass
  * `isolateSessions = true` to give each connection a `newSession()`
  * clone — own temp-view namespace and SQL conf, shared SparkContext
  * and persistent catalog — when concurrent tenants must not see each
  * other's DDL.
  * Results ship in text format by default; a Bind may request BINARY
  * result columns (per column or all — pgJDBC `binaryTransfer`,
  * psycopg3 binary cursors) for bool/int2/int4/int8/float4/float8/
  * numeric/text/bytea/date/timestamp; a binary request for a type with
  * no binary encoding is refused 0A000 — declared capability,
  * never silently-degraded garbage. Complex columns (array/map/struct)
  * are serialized to JSON server-side before collect. Driver safety:
  * collects are capped at `maxRows` with a NoticeResponse when the cap
  * fires — same bounded-collect contract as QueryServer, since the
  * protocol has no `truncated` flag.
  */
final class PgWireServer(spark: SparkSession, maxRows: Int = 10000,
    isolateSessions: Boolean = false, password: Option[String] = None,
    scram: Boolean = false) {

  private var server: Option[ServerSocket] = None
  @volatile private var running = false
  private val connections =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  private val cache = new ResultCache

  /** Hits, misses, evictions and bytes of this server's result cache. */
  def cacheStats: ResultCache.Stats = cache.stats

  /** Bind 127.0.0.1:`port` (0 = ephemeral) and serve until `stop()`.
    * Returns the bound port. One daemon accept thread; one daemon
    * thread per connection (a gateway fronting dbt + a dashboard holds
    * a handful of connections, not thousands — C10K belongs to Spark
    * Connect's grpc tier). */
  def start(port: Int = 0): Int = synchronized {
    require(server.isEmpty, "PgWireServer already started")
    val ss = new ServerSocket(port, 50, InetAddress.getByName("127.0.0.1"))
    server = Some(ss)
    running = true
    val acceptor = new Thread(() => {
      // loop on THIS listener's liveness, not the shared `running` flag:
      // a stop()/start() cycle flips `running` back to true and a
      // flag-guarded loop would then busy-spin on its closed socket
      while (!ss.isClosed) {
        try {
          val sock = ss.accept()
          connections.add(sock)
          if (!running) {
            // stop() ran between accept and add and may have missed this
            // socket in its close sweep — honor the stop guarantee
            connections.remove(sock)
            try sock.close() catch { case _: IOException => }
          } else {
            val t = new Thread(() => handleConnection(sock), "graft-pgwire-conn")
            t.setDaemon(true)
            t.start()
          }
        } catch {
          case _: IOException => // socket closed by stop()
        }
      }
    }, "graft-pgwire-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    ss.getLocalPort
  }

  def stop(): Unit = synchronized {
    running = false
    server.foreach(s => try s.close() catch { case _: IOException => })
    server = None
    // live handler threads block in readByte(); closing their sockets is
    // what actually ends the sessions (and the daemon threads with them)
    connections.forEach(s => try s.close() catch { case _: IOException => })
    connections.clear()
    cache.clear()
  }

  // ---- protocol constants (public wire format) ----
  private val ProtocolV3 = 196608      // 3 << 16
  private val SslRequestCode = 80877103
  private val GssEncRequestCode = 80877104
  private val CancelRequestCode = 80877102

  /** Cancel registry: backend pid → (secret, Spark job group). A
    * CancelRequest arrives on its OWN connection (that's the protocol —
    * the session socket is busy executing), so the key data must
    * resolve to something cancellable out-of-band: the session's job
    * group, which `cancelJobGroup` kills with interruptOnCancel. */
  private val backendSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  private val cancelKeys =
    new java.util.concurrent.ConcurrentHashMap[Int, (Int, String)]()
  private val secretRng = new java.security.SecureRandom()

  private def handleConnection(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream))
    val pid = backendSeq.incrementAndGet()
    val secret = secretRng.nextInt()
    val jobGroup = s"graft-pgwire-$pid"
    try {
      if (!handshake(in, out)) return
      if (!authenticate(in, out)) return
      cancelKeys.put(pid, (secret, jobGroup))
      sendAuthAndReady(out, pid, secret)
      messageLoop(in, out, jobGroup)
    } catch {
      case _: EOFException => // client hung up
      case _: IOException  =>
    } finally {
      cancelKeys.remove(pid)
      connections.remove(sock)
      try sock.close() catch { case _: IOException => }
    }
  }

  /** Pre-startup negotiation: refuse SSL/GSS encryption (respond 'N',
    * client retries cleartext on the same socket), honor cancel
    * requests (kill the target session's Spark job group iff the
    * secret matches — then drop, no response, per protocol), accept a
    * v3 StartupMessage. Returns false when the connection should end
    * without a session. */
  @annotation.tailrec
  private def handshake(in: DataInputStream, out: DataOutputStream): Boolean = {
    val len = in.readInt()
    if (len < 8 || len > (1 << 20)) return false
    val code = in.readInt()
    code match {
      case SslRequestCode | GssEncRequestCode =>
        out.writeByte('N'); out.flush()
        handshake(in, out)
      case CancelRequestCode =>
        // the frame must declare its own key data (len 16 = len + code +
        // pid + secret): reading past a shorter frame would block the
        // handler thread on bytes the client never promised to send
        if (len == 16) {
          val pid = in.readInt()
          val secret = in.readInt()
          Option(cancelKeys.get(pid)).foreach { case (expected, group) =>
            if (expected == secret) spark.sparkContext.cancelJobGroup(group)
          }
        }
        false // cancel connections carry no response and close immediately
      case ProtocolV3 =>
        in.skipBytes(len - 8) // user/database params — trust auth, single catalog
        true
      case _ =>
        writeError(out, "08P01", s"unsupported protocol code $code")
        out.flush()
        false
    }
  }

  /** Opt-in password auth: with no `password` configured the gateway
    * stays trust — the reference proxy's default. `scram = true`
    * upgrades to SASL SCRAM-SHA-256 ([[authenticateScram]] — the
    * password never crosses the wire and the server proves itself
    * back); the default is AuthenticationCleartextPassword, the scheme
    * every client speaks with zero driver config, whose wire exposure
    * is the localhost-gateway trade (a network deployment terminates
    * TLS in front, DEPLOY.md). Constant-time compares either way, and a
    * wrong password gets postgres's 28P01 before any session state
    * exists. */
  private def authenticate(in: DataInputStream,
      out: DataOutputStream): Boolean = password match {
    case None => true
    case Some(expected) if scram => authenticateScram(in, out, expected)
    case Some(expected) =>
      writeMsg(out, 'R') { b => b.writeInt(3) } // AuthenticationCleartextPassword
      out.flush()
      val tpe = in.readByte().toChar
      val len = in.readInt()
      if (tpe != 'p' || len < 5 || len > (1 << 20)) {
        writeError(out, "28P01", "password authentication failed")
        out.flush(); return false
      }
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      val got = java.util.Arrays.copyOf(payload,
        math.max(0, payload.length - 1)) // strip the trailing NUL
      if (java.security.MessageDigest.isEqual(got,
          expected.getBytes(StandardCharsets.UTF_8))) true
      else {
        writeError(out, "28P01", "password authentication failed")
        out.flush(); false
      }
  }

  /** SASL SCRAM-SHA-256 auth (RFC 5802/7677 as postgres speaks it —
    * AuthenticationSASL → SASLInitialResponse → SASLContinue →
    * SASLResponse → SASLFinal): the password never crosses the wire,
    * the server proves it too (the `v=` server signature), and a replay
    * of a captured exchange is useless (fresh server nonce + fresh salt
    * per connection — this gateway verifies against its CONFIGURED
    * password, so the salt need not be stable across connections the
    * way pg_authid's stored verifier salt must be).
    *
    * Scope: channel binding is not advertised (no -PLUS mechanism; a
    * `p=...` gs2 header refuses), and SASLprep normalization is not
    * applied — ASCII passwords, the configured-gateway case, are
    * unaffected. The username attribute is ignored: one configured
    * credential, like the cleartext face. Secret-bearing comparisons
    * (the proof) are constant-time; mechanism/gs2/nonce checks compare
    * plainly — those values are public protocol state. Any malformed
    * step gets postgres's 28P01. */
  private def authenticateScram(in: DataInputStream, out: DataOutputStream,
      expected: String): Boolean = {
    val mechanism = "SCRAM-SHA-256"
    val iterations = 4096
    def fail(msg: String): Boolean = {
      writeError(out, "28P01", msg); out.flush(); false
    }
    def hmac(key: Array[Byte], data: String): Array[Byte] = {
      val m = javax.crypto.Mac.getInstance("HmacSHA256")
      m.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
      m.doFinal(data.getBytes(StandardCharsets.UTF_8))
    }
    def sha256(data: Array[Byte]): Array[Byte] =
      java.security.MessageDigest.getInstance("SHA-256").digest(data)
    def readP(): Option[Array[Byte]] = {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      if (tpe != 'p' || len < 4 || len > (1 << 20)) None
      else { val p = new Array[Byte](len - 4); in.readFully(p); Some(p) }
    }
    writeMsg(out, 'R') { b => // AuthenticationSASL: the mechanism list
      b.writeInt(10)
      b.write(mechanism.getBytes(StandardCharsets.UTF_8)); b.writeByte(0)
      b.writeByte(0)
    }
    out.flush()
    try {
      // SASLInitialResponse: mechanism cstr + int32 len + client-first
      val p1 = readP().getOrElse(return fail("password authentication failed"))
      val z = p1.indexOf(0: Byte)
      if (z < 0) return fail("malformed SASLInitialResponse")
      val mech = new String(p1, 0, z, StandardCharsets.UTF_8)
      if (mech != mechanism)
        return fail(s"unsupported SASL mechanism $mech")
      if (p1.length < z + 5) return fail("malformed SASLInitialResponse")
      val ilen = ((p1(z + 1) & 0xff) << 24) | ((p1(z + 2) & 0xff) << 16) |
        ((p1(z + 3) & 0xff) << 8) | (p1(z + 4) & 0xff)
      if (ilen < 0 || z + 5 + ilen != p1.length)
        return fail("malformed SASLInitialResponse")
      val clientFirst = new String(p1, z + 5, ilen, StandardCharsets.UTF_8)
      val gs2Header = // "p=..." would request the -PLUS channel binding
        if (clientFirst.startsWith("n,,")) "n,,"
        else if (clientFirst.startsWith("y,,")) "y,,"
        else return fail("channel binding is not supported")
      val clientFirstBare = clientFirst.drop(gs2Header.length)
      val clientNonce = clientFirstBare.split(",")
        .collectFirst { case a if a.startsWith("r=") => a.drop(2) } match {
        case Some(n) if n.nonEmpty => n
        case _ => return fail("malformed client-first message")
      }
      // server-first: fresh salt + extended nonce
      val salt = new Array[Byte](16)
      val nonceBytes = new Array[Byte](18)
      secretRng.nextBytes(salt); secretRng.nextBytes(nonceBytes)
      val fullNonce = clientNonce +
        java.util.Base64.getEncoder.encodeToString(nonceBytes)
      val serverFirst = "r=" + fullNonce +
        ",s=" + java.util.Base64.getEncoder.encodeToString(salt) +
        ",i=" + iterations
      writeMsg(out, 'R') { b => // AuthenticationSASLContinue
        b.writeInt(11)
        b.write(serverFirst.getBytes(StandardCharsets.UTF_8))
      }
      out.flush()
      // SASLResponse: client-final = c=<b64 gs2>,r=<full nonce>,p=<proof>
      val p2 = readP().getOrElse(return fail("password authentication failed"))
      val clientFinal = new String(p2, StandardCharsets.UTF_8)
      val proofAt = clientFinal.lastIndexOf(",p=")
      if (proofAt < 0) return fail("malformed client-final message")
      val withoutProof = clientFinal.substring(0, proofAt)
      val fAttrs = withoutProof.split(",").toSeq
      val cOk = fAttrs.headOption.contains("c=" + java.util.Base64.getEncoder
        .encodeToString(gs2Header.getBytes(StandardCharsets.UTF_8)))
      val rOk = fAttrs.collectFirst {
        case a if a.startsWith("r=") => a.drop(2)
      }.contains(fullNonce)
      if (!cOk || !rOk) return fail("SCRAM exchange did not verify")
      val proof =
        try java.util.Base64.getDecoder.decode(clientFinal.substring(proofAt + 3))
        catch { case _: IllegalArgumentException =>
          return fail("malformed client proof") }
      val authMessage = clientFirstBare + "," + serverFirst + "," + withoutProof
      val spec = new javax.crypto.spec.PBEKeySpec(
        expected.toCharArray, salt, iterations, 256)
      val salted = javax.crypto.SecretKeyFactory
        .getInstance("PBKDF2WithHmacSHA256").generateSecret(spec).getEncoded
      val clientKey = hmac(salted, "Client Key")
      val storedKey = sha256(clientKey)
      val clientSig = hmac(storedKey, authMessage)
      if (proof.length != clientSig.length)
        return fail("password authentication failed")
      val recovered = Array.tabulate(proof.length)(i =>
        (proof(i) ^ clientSig(i)).toByte)
      if (!java.security.MessageDigest.isEqual(sha256(recovered), storedKey))
        return fail("password authentication failed")
      val serverSig = hmac(hmac(salted, "Server Key"), authMessage)
      writeMsg(out, 'R') { b => // AuthenticationSASLFinal: prove ourselves
        b.writeInt(12)
        b.write(("v=" + java.util.Base64.getEncoder.encodeToString(serverSig))
          .getBytes(StandardCharsets.UTF_8))
      }
      out.flush()
      true
    } catch {
      case _: EOFException => false
    }
  }

  private def sendAuthAndReady(out: DataOutputStream, pid: Int, secret: Int): Unit = {
    writeMsg(out, 'R') { b => b.writeInt(0) } // AuthenticationOk
    Seq(
      "server_version" -> "15.0 (graft)",
      "server_encoding" -> "UTF8",
      "client_encoding" -> "UTF8",
      "DateStyle" -> "ISO, MDY",
      "integer_datetimes" -> "on",
      "standard_conforming_strings" -> "on").foreach { case (k, v) =>
      writeMsg(out, 'S') { b => writeCStr(b, k); writeCStr(b, v) }
    }
    // real key data: what a libpq client sends back in a CancelRequest
    writeMsg(out, 'K') { b => b.writeInt(pid); b.writeInt(secret) }
    writeReady(out)
    out.flush()
  }

  /** A Parse-d statement: its SQL text plus the parameter type OIDs the
    * client declared (0 = unspecified; pgJDBC declares the OID of every
    * setX call, psycopg2 usually declares none). */
  private final case class Prepared(sql: String, paramOids: IndexedSeq[Int])

  /** A bound portal: the statement's SQL with its Bind parameters
    * already substituted as typed literals, plus the result format
    * codes the Bind requested (0 entries = all text, 1 entry = all
    * columns, else one per column — resolved against the result schema
    * at Describe/Execute time, when the column count is known). */
  private final case class Portal(sql: String,
      resultFormats: IndexedSeq[Int])

  /** Per-connection extended-protocol state: the connection's
    * SparkSession (the shared one, or a `newSession()` clone when
    * session isolation is on), named prepared statements, and portals. */
  private final class SessionState(val sess: SparkSession) {
    val statements = mutable.Map.empty[String, Prepared]
    val portals = mutable.Map.empty[String, Portal]
    var skipUntilSync = false
  }

  private def messageLoop(in: DataInputStream, out: DataOutputStream,
      jobGroup: String): Unit = {
    // isolation: a newSession() clone shares the SparkContext (and so
    // the job-group cancellation wiring) but gets its own temp-view
    // catalog and SQL conf — one connection's CREATE TEMP VIEW can't
    // shadow another's tables. The clone's fresh function registry
    // must re-learn graft's SQL functions (vec_dot/minhash/...), or an
    // isolated client would lose them; shared DATA should be published
    // as persistent catalog tables or global temp views
    // (`global_temp.<name>`), both of which cross sessions. Default
    // OFF: the shared catalog is the reference proxy's semantics (dbt
    // materializes views one connection, a dashboard reads them on
    // another).
    val st = new SessionState(
      if (isolateSessions) {
        val sess = spark.newSession()
        graft.plans.GraftExtensions.register(sess)
        sess
      } else spark)
    // every Spark action this session runs happens on THIS thread, so
    // one thread-local job group makes the whole session cancellable by
    // an out-of-band CancelRequest (interruptOnCancel reaches into
    // running tasks); a cancelled collect surfaces as an ErrorResponse
    // on the session connection, exactly like postgres's "canceling
    // statement due to user request"
    spark.sparkContext.setJobGroup(jobGroup,
      s"pg-wire session $jobGroup", interruptOnCancel = true)
    try messageLoopInner(in, out, st)
    finally spark.sparkContext.clearJobGroup()
  }

  private def messageLoopInner(in: DataInputStream, out: DataOutputStream,
      st: SessionState): Unit = {
    while (true) {
      val tpe = in.readByte().toChar
      val len = in.readInt()
      if (len < 4 || len > (64 << 20)) throw new IOException("bad frame length")
      val payload = new Array[Byte](len - 4)
      in.readFully(payload)
      // after an extended-protocol error, discard until Sync (protocol's
      // error-recovery rule); Sync and Terminate always processed
      if (st.skipUntilSync && tpe != 'S' && tpe != 'X') ()
      else tpe match {
        case 'Q' => simpleQuery(st, out, new String(payload, 0,
          math.max(0, payload.length - 1), StandardCharsets.UTF_8))
        case 'P' => parse(st, out, payload)
        case 'B' => bind(st, out, payload)
        case 'D' => describe(st, out, payload)
        case 'E' => execute(st, out, payload)
        case 'C' => closeTarget(st, out, payload)
        case 'H' => out.flush() // Flush
        case 'S' => // Sync: clear error state, end the implicit transaction
          st.skipUntilSync = false
          writeReady(out); out.flush()
        case 'X' => return // Terminate
        case other =>
          writeError(out, "08P01", s"unsupported message type '$other'")
          st.skipUntilSync = true
      }
    }
  }

  // ---- simple protocol ----

  /** One Query message may carry several ';'-separated statements (psql
    * ships a whole `SELECT 1; SELECT 2` line as one message): run each
    * in order with its own result cycle, stop at the first error
    * (postgres's implicit-transaction abort skips the remainder), one
    * ReadyForQuery at the end. */
  private def simpleQuery(st: SessionState, out: DataOutputStream,
      sql: String): Unit = {
    val stmts = splitStatements(sql)
    if (stmts.isEmpty) {
      writeMsg(out, 'I') { _ => } // EmptyQueryResponse
    } else {
      var failed = false
      val it = stmts.iterator
      while (!failed && it.hasNext) {
        val stmt = it.next()
        try {
          if (isCopyStatement(stmt)) copyOut(st, out, stmt)
          else {
            val df = textualize(st.sess.sql(stmt))
            val schema = df.schema
            if (schema.nonEmpty) writeRowDescription(out, schema)
            val n = if (schema.nonEmpty) writeRows(out, df) else 0L
            dmlTagNotice(stmt).foreach(writeNotice(out, _))
            writeMsg(out, 'C') { b => writeCStr(b, commandTag(stmt, n)) }
          }
        } catch {
          case e: PgProtocolError =>
            writeError(out, e.code, e.getMessage)
            failed = true
          case e: Exception =>
            writeError(out, "42601", String.valueOf(e.getMessage))
            failed = true
        }
      }
    }
    writeReady(out)
    out.flush()
  }

  /** Split on top-level ';' only — quoted strings ('' escape), quoted
    * identifiers, line comments and block comments are opaque, matching
    * how the postgres frontend lexes a simple-query string. */
  private[query] def splitStatements(sql: String): Seq[String] = {
    val segments = Vector.newBuilder[(String, Boolean)]
    val cur = new StringBuilder
    var hasContent = false // any non-comment, non-whitespace char seen
    var i = 0
    var state: Char = 'n' // n-ormal, s-ingle quote, d-ouble quote, l-ine comment, b-lock comment
    while (i < sql.length) {
      val c = sql.charAt(i)
      val next = if (i + 1 < sql.length) sql.charAt(i + 1) else '\u0000'
      state match {
        case 'n' =>
          if (c == '\'') { state = 's'; cur += c; hasContent = true }
          else if (c == '"') { state = 'd'; cur += c; hasContent = true }
          else if (c == '-' && next == '-') { state = 'l'; cur += c }
          else if (c == '/' && next == '*') { state = 'b'; cur += c }
          else if (c == ';') {
            segments += ((cur.toString, hasContent)); cur.clear(); hasContent = false
          } else {
            cur += c
            if (!c.isWhitespace) hasContent = true
          }
        case 's' =>
          cur += c
          // Spark's string rules, because the segments feed spark.sql:
          // backslash escapes the next char (so \' stays inside), and
          // '' doubling stays inside too
          if (c == '\\' && i + 1 < sql.length) { cur += next; i += 1 }
          else if (c == '\'') {
            if (next == '\'') { cur += next; i += 1 } // '' escape stays inside
            else state = 'n'
          }
        case 'd' =>
          cur += c
          if (c == '"') state = 'n'
        case 'l' =>
          cur += c
          if (c == '\n') state = 'n'
        case 'b' =>
          cur += c
          if (c == '*' && next == '/') { cur += next; i += 1; state = 'n' }
      }
      i += 1
    }
    segments += ((cur.toString, hasContent))
    // comment-only segments are NOT statements: psql ships
    // `SELECT 1; -- done` as one message, and the trailing comment must
    // not reach spark.sql as a bogus second statement
    segments.result().collect { case (s, true) => s.trim }.filter(_.nonEmpty)
  }

  // ---- COPY sub-protocol (bulk export) ----

  /** A protocol-level failure with its SQLSTATE — thrown by the COPY
    * parser so the catch site can ship the right code ('0A000' for
    * unsupported forms) instead of blanket syntax-error. */
  private final class PgProtocolError(val code: String, msg: String)
    extends Exception(msg)

  private def isCopyStatement(stmt: String): Boolean =
    stmt.trim.length >= 5 && stmt.trim.take(5).matches("(?i)copy[\\s(]")

  /** `COPY (query) TO STDOUT [options]` / `COPY table [(cols)] TO
    * STDOUT [options]` — the bulk-export face psql's `\\copy ... to`
    * and pgJDBC's CopyManager.copyOut speak. Unlike the row-capped
    * DataRow path, COPY streams EVERY row through `toLocalIterator`
    * (one partition in driver memory at a time — bulk export is the
    * one place the cap would defeat the point). Formats: postgres TEXT
    * (tab delimiter, `\\N` null, control-char escapes), CSV
    * (RFC-style quoting, empty=null, `""`=empty string, optional
    * HEADER row) and BINARY ([[copyOutBinary]]); options are TOKENIZED
    * and anything unrecognized refuses 0A000 ([[parseCopyOptions]]) —
    * never silently ignored. `COPY ... FROM STDIN` is refused 0A000
    * — this gateway is an export face; ingest goes through the
    * library's write paths, not the wire. */
  private def copyOut(st: SessionState, out: DataOutputStream,
      stmt: String): Unit = {
    val body = stmt.trim.drop(4).trim // after COPY
    val (target, direction, tail) = splitCopyTarget(body)
    if (direction.equalsIgnoreCase("FROM"))
      throw new PgProtocolError("0A000",
        "COPY FROM STDIN is not supported: this gateway is an export " +
          "face — load data through the library's write paths")
    val tailTrim = tail.trim
    // word boundary after STDOUT: 'STDOUTX' (or any target token merely
    // STARTING with stdout) is a syntax error, not STDOUT plus options
    val stdoutRe = "(?is)^STDOUT\\b\\s*(.*)$".r
    val optsRaw = tailTrim match {
      case stdoutRe(rest) => rest.trim
      case _ => throw new PgProtocolError("0A000",
        "only COPY ... TO STDOUT is supported (no server-side files)")
    }
    val (format, header) = parseCopyOptions(optsRaw)
    val csv = format == "csv"
    val select =
      if (target.startsWith("(")) target.substring(1, target.length - 1)
      else {
        // table name with optional parenthesized column list
        val m = "^([^(\\s]+)\\s*(?:\\(([^)]*)\\))?$".r
        target.trim match {
          case m(tbl, cols) =>
            val proj = Option(cols).map(_.trim).filter(_.nonEmpty).getOrElse("*")
            s"SELECT $proj FROM $tbl"
          case other =>
            throw new PgProtocolError("42601", s"cannot parse COPY target: $other")
        }
      }
    val df = textualize(st.sess.sql(select))
    val fields = df.schema.fields
    if (format == "binary") { copyOutBinary(out, df); return }
    writeMsg(out, 'H') { b => // CopyOutResponse: overall + per-col text format
      b.writeByte(0)
      b.writeShort(fields.length)
      fields.foreach(_ => b.writeShort(0))
    }
    def copyData(line: String): Unit = writeMsg(out, 'd') { b =>
      b.write(line.getBytes(StandardCharsets.UTF_8)); b.write('\n')
    }
    if (header) copyData(
      if (csv) fields.map(f => csvCell(f.name)).mkString(",")
      else fields.map(f => copyTextEscape(f.name)).mkString("\t"))
    var n = 0L
    // the bulk path: stream partitions, never a capped collect
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      val cells = (0 until row.length).map { i =>
        if (row.isNullAt(i)) { if (csv) "" else "\\N" }
        else {
          val s = renderCell(row.get(i))
          if (csv) { if (s.isEmpty) "\"\"" else csvCell(s) }
          else copyTextEscape(s)
        }
      }
      copyData(cells.mkString(if (csv) "," else "\t"))
      n += 1
    }
    writeMsg(out, 'c') { _ => } // CopyDone
    writeMsg(out, 'C') { b => writeCStr(b, s"COPY $n") }
  }

  /** `COPY ... TO STDOUT (FORMAT binary)`: the postgres binary COPY
    * stream — `PGCOPY\n\377\r\n\0` signature + int32 flags + int32
    * extension length, one int16-field-count tuple per row with each
    * field as int32 length + the SAME wire encodings the binary DataRow
    * path ships ([[writeBinaryCell]]), and the int16 -1 trailer. Types
    * with no binary send path refuse 0A000 up front (declared
    * capability, like [[resolveFormats]]); complex columns are already
    * JSON text by this point ([[textualize]]), matching the DataRow
    * face. HEADER is rejected by the option parser in binary mode. */
  private def copyOutBinary(out: DataOutputStream,
      df: DataFrame): Unit = {
    val fields = df.schema.fields
    val types = fields.map(_.dataType)
    fields.foreach { f =>
      if (!binaryCapable(f.dataType))
        throw new PgProtocolError("0A000",
          s"binary COPY not supported for type ${f.dataType.simpleString} " +
            s"(column ${f.name})")
    }
    writeMsg(out, 'H') { b => // CopyOutResponse: overall + per-col BINARY
      b.writeByte(1)
      b.writeShort(fields.length)
      fields.foreach(_ => b.writeShort(1))
    }
    writeMsg(out, 'd') { b => // stream header
      b.write(Array[Byte]('P', 'G', 'C', 'O', 'P', 'Y', '\n',
        0xFF.toByte, '\r', '\n', 0))
      b.writeInt(0) // flags: no OIDs
      b.writeInt(0) // header extension length
    }
    var n = 0L
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      writeMsg(out, 'd') { b =>
        b.writeShort(row.length)
        (0 until row.length).foreach { i =>
          if (row.isNullAt(i)) b.writeInt(-1)
          else writeBinaryCell(b, row.get(i), types(i))
        }
      }
      n += 1
    }
    writeMsg(out, 'd') { b => b.writeShort(-1) } // binary trailer
    writeMsg(out, 'c') { _ => } // CopyDone
    writeMsg(out, 'C') { b => writeCStr(b, s"COPY $n") }
  }

  /** Tokenize the COPY options clause — the new-style parenthesized
    * list (`(FORMAT csv, HEADER true)`) or the legacy bare keywords
    * (`[WITH] [BINARY] [CSV] [HEADER]`) — into (format, header) with
    * format ∈ text/csv/binary. Every option this export face does not
    * implement (DELIMITER, NULL, QUOTE, FORCE_QUOTE, ENCODING, ...)
    * REFUSES 0A000 instead of being silently ignored: a client that
    * asked for `DELIMITER '|'` and got commas would misparse every
    * exported row with no error anywhere. */
  private def parseCopyOptions(raw0: String): (String, Boolean) = {
    var format = "text"
    var header = false
    var headerSet = false
    def applyOption(name: String, value: String): Unit =
      name.toUpperCase match {
        case "FORMAT" => value.trim.toLowerCase match {
          case "text" | "'text'" => format = "text"
          case "csv" | "'csv'" => format = "csv"
          case "binary" | "'binary'" => format = "binary"
          case other => throw new PgProtocolError("42601",
            s"invalid COPY FORMAT: $other (text, csv, or binary)")
        }
        case "HEADER" => value.trim.toLowerCase match {
          case "" | "true" | "on" | "1" => header = true; headerSet = true
          case "false" | "off" | "0" => header = false; headerSet = true
          case "match" => throw new PgProtocolError("0A000",
            "HEADER match applies to COPY FROM, which this export face " +
              "does not support")
          case other => throw new PgProtocolError("42601",
            s"invalid COPY HEADER value: $other")
        }
        case other => throw new PgProtocolError("0A000",
          s"COPY option $other is not supported by this export face " +
            "(supported: FORMAT text/csv/binary, HEADER)")
      }
    val raw = {
      val t = raw0.trim
      if (t.matches("(?is)^WITH\\b.*")) t.drop(4).trim else t
    }
    if (raw.nonEmpty) {
      if (raw.startsWith("(")) {
        if (!raw.endsWith(")"))
          throw new PgProtocolError("42601",
            s"cannot parse COPY options: $raw")
        splitTopLevelCommas(raw.substring(1, raw.length - 1)).foreach { o =>
          val t = o.trim
          if (t.nonEmpty) {
            val sp = t.indexWhere(_.isWhitespace)
            if (sp < 0) applyOption(t, "")
            else applyOption(t.substring(0, sp), t.substring(sp + 1).trim)
          }
        }
      } else raw.split("\\s+").foreach { tok =>
        tok.toUpperCase match {
          case "CSV" => format = "csv"
          case "BINARY" => format = "binary"
          case "HEADER" => header = true; headerSet = true
          case other => throw new PgProtocolError("0A000",
            s"COPY option $other is not supported by this export face " +
              "(supported: BINARY, CSV, HEADER)")
        }
      }
    }
    if (headerSet && header && format == "binary")
      throw new PgProtocolError("42601",
        "cannot specify HEADER in BINARY mode")
    (format, header)
  }

  /** Split an option list on top-level commas — quote-aware, so a
    * refused option's quoted value (`DELIMITER ','`) cannot smuggle a
    * delimiter comma past the tokenizer. */
  private def splitTopLevelCommas(s: String): Seq[String] = {
    val parts = Seq.newBuilder[String]
    val cur = new StringBuilder
    var inQuote = false
    s.foreach { c =>
      if (c == '\'') { inQuote = !inQuote; cur.append(c) }
      else if (c == ',' && !inQuote) { parts += cur.toString; cur.clear() }
      else cur.append(c)
    }
    parts += cur.toString
    parts.result()
  }

  /** Split `COPY <target> <TO|FROM> <rest>` at the first top-level
    * TO/FROM keyword (outside quotes and parens), so a subquery's own
    * TO/FROM tokens can't truncate the target. */
  private def splitCopyTarget(body: String): (String, String, String) = {
    var i = 0
    var depth = 0
    var state: Char = 'n'
    while (i < body.length) {
      val c = body.charAt(i)
      state match {
        case 'n' =>
          if (c == '\'') state = 's'
          else if (c == '"') state = 'd'
          else if (c == '(') depth += 1
          else if (c == ')') depth -= 1
          else if (depth == 0 && (c == 't' || c == 'T' || c == 'f' || c == 'F')) {
            val boundaryBefore = i == 0 || body.charAt(i - 1).isWhitespace ||
              body.charAt(i - 1) == ')'
            def wordIs(w: String): Boolean =
              boundaryBefore && i + w.length <= body.length &&
                body.substring(i, i + w.length).equalsIgnoreCase(w) &&
                (i + w.length == body.length ||
                  body.charAt(i + w.length).isWhitespace)
            if (wordIs("TO"))
              return (body.substring(0, i).trim, "TO", body.substring(i + 2))
            if (wordIs("FROM"))
              return (body.substring(0, i).trim, "FROM", body.substring(i + 4))
          }
        case 's' => if (c == '\'') state = 'n'
        case 'd' => if (c == '"') state = 'n'
      }
      i += 1
    }
    throw new PgProtocolError("42601",
      "cannot parse COPY statement: expected TO STDOUT after the target")
  }

  /** CSV cell per postgres COPY CSV rules: quote iff the cell contains
    * the delimiter, a quote, or a line break; quotes double. */
  private def csvCell(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** Postgres TEXT-format escapes: backslash and the control characters
    * the format reserves; everything else passes through raw. */
  private def copyTextEscape(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case '\b' => b.append("\\b")
      case '\f' => b.append("\\f")
      case 0x0b => b.append("\\v")
      case c => b.append(c)
    }
    b.toString
  }

  // ---- extended protocol ----

  private def parse(st: SessionState, out: DataOutputStream,
      payload: Array[Byte]): Unit = {
    val r = new PayloadReader(payload)
    val name = r.cstr()
    val sql = r.cstr()
    val nParamTypes = r.int16()
    val oids = (0 until nParamTypes).map(_ => r.int32()).toIndexedSeq
    st.statements(name) = Prepared(sql, oids)
    writeMsg(out, '1') { _ => } // ParseComplete
  }

  private def bind(st: SessionState, out: DataOutputStream,
      payload: Array[Byte]): Unit = {
    val r = new PayloadReader(payload)
    val portal = r.cstr()
    val stmt = r.cstr()
    // parameter format codes: 0 entries = all text, 1 entry = applies
    // to every parameter, else one per parameter
    val fmts = {
      val nFmt = r.int16(); (0 until nFmt).map(_ => r.int16())
    }
    val nParams = r.int16()
    val rawParams: IndexedSeq[Option[Array[Byte]]] = (0 until nParams).map { _ =>
      val len = r.int32()
      if (len == -1) None else Some(r.take(len))
    }
    // result format codes are stored with the portal and resolved at
    // Describe/Execute, when the result column count is known
    val resFmts = {
      val nResFmt = r.int16()
      (0 until nResFmt).map(_ => r.int16()).toIndexedSeq
    }
    // malformed format-code lists are PROTOCOL violations (postgres
    // answers 08P01) — validated up front so a fuzzer can't kill the
    // connection with an uncaught index error, and unknown codes are
    // refused rather than silently treated as text
    val badProto: Option[String] =
      if (fmts.length > 1 && fmts.length != rawParams.length)
        Some(s"bind message has ${fmts.length} parameter format codes " +
          s"but ${rawParams.length} parameters")
      else (fmts ++ resFmts).find(c => c != 0 && c != 1)
        .map(c => s"unsupported format code: $c")
    def paramFmt(i: Int): Int =
      if (fmts.isEmpty) 0 else if (fmts.length == 1) fmts.head else fmts(i)
    if (badProto.isDefined) {
      writeError(out, "08P01", badProto.get)
      st.skipUntilSync = true
    } else st.statements.get(stmt) match {
      case Some(p) =>
        try {
          // binary-format parameters decode to their canonical text form
          // per the DECLARED oid (pgJDBC binaryTransfer, psycopg3 binary
          // params); an oid outside the supported set is refused loudly
          // — never guessed at
          val params: IndexedSeq[Option[String]] =
            rawParams.zipWithIndex.map { case (raw, i) =>
              raw.map { bytes =>
                if (paramFmt(i) == 1) {
                  val oid = if (i < p.paramOids.length) p.paramOids(i) else 0
                  decodeBinaryParam(bytes, oid)
                } else new String(bytes, StandardCharsets.UTF_8)
              }
            }
          st.portals(portal) =
            Portal(PgParams.substitute(p.sql, params, p.paramOids), resFmts)
          writeMsg(out, '2') { _ => } // BindComplete
        } catch {
          case e: UnsupportedOperationException =>
            writeError(out, "0A000", String.valueOf(e.getMessage))
            st.skipUntilSync = true
          case e: IllegalArgumentException =>
            writeError(out, "22P02", String.valueOf(e.getMessage))
            st.skipUntilSync = true
        }
      case None =>
        writeError(out, "26000", s"prepared statement \"$stmt\" does not exist")
        st.skipUntilSync = true
    }
  }

  private def describe(st: SessionState, out: DataOutputStream,
      payload: Array[Byte]): Unit = {
    val r = new PayloadReader(payload)
    val kind = r.byte().toChar // 'S' statement | 'P' portal
    val name = r.cstr()
    // a portal's SQL already has its parameters substituted; a
    // statement Describe probes the schema with typed NULLs in the
    // parameter slots (Describe must not depend on values it will only
    // see at Bind)
    // a portal's RowDescription advertises the format codes its Bind
    // requested (a statement's are unknown pre-Bind → all 0, postgres's
    // convention)
    val portalFmts: IndexedSeq[Int] =
      if (kind == 'P') st.portals.get(name).map(_.resultFormats)
        .getOrElse(IndexedSeq.empty)
      else IndexedSeq.empty
    val target: Option[Prepared] =
      if (kind == 'S') st.statements.get(name)
      else st.portals.get(name).map(p => Prepared(p.sql, IndexedSeq.empty))
    target match {
      case None =>
        writeError(out, "26000", s"unknown ${if (kind == 'S') "statement" else "portal"} \"$name\"")
        st.skipUntilSync = true
      case Some(p) =>
        // everything below can throw on a malformed statement ($0, a
        // absurd parameter index, an unanalyzable query) — all of it
        // must surface as an ErrorResponse, never kill the connection
        try {
          val s =
            if (kind == 'S')
              PgParams.substitute(p.sql, IndexedSeq.empty, p.paramOids,
                probe = true)
            else p.sql
          if (kind == 'S') // statements also advertise their param list
            writeMsg(out, 't') { b => // ParameterDescription
              // count = what the statement REFERENCES, not what the
              // client declared: drivers may declare zero OIDs and
              // learn the count here; undeclared slots report text
              val count = math.max(p.paramOids.length,
                PgParams.paramCount(p.sql))
              b.writeShort(count)
              (0 until count).foreach { i =>
                val o = if (i < p.paramOids.length) p.paramOids(i) else 0
                b.writeInt(if (o == 0) 25 else o)
              }
            }
          // Describe must not EXECUTE (spark.sql runs DDL/DML eagerly
          // inside the call — a Describe that inserts rows would insert
          // them AGAIN at Execute) yet must return the exact
          // RowDescription Execute will stream (pgJDBC Describes
          // `SET extra_float_digits=3` at startup and expects its
          // (key, value) row). Parse + analyze with command execution
          // skipped gives both. Complex columns need no schema rewrite:
          // they ship as JSON text and their pg OID is already 25.
          val schema = org.apache.spark.sql.GraftBridge
            .analyzedSchemaNoExec(st.sess, s)
          if (schema.nonEmpty)
            writeRowDescription(out, schema,
              resolveFormats(schema, portalFmts))
          else writeMsg(out, 'n') { _ => } // NoData
        } catch {
          case e: UnsupportedOperationException =>
            writeError(out, "0A000", String.valueOf(e.getMessage))
            st.skipUntilSync = true
          case e: Exception =>
            writeError(out, "42601", String.valueOf(e.getMessage))
            st.skipUntilSync = true
        }
    }
  }

  private def execute(st: SessionState, out: DataOutputStream,
      payload: Array[Byte]): Unit = {
    val r = new PayloadReader(payload)
    val portal = r.cstr()
    // max-rows field ignored: the server-side cap governs
    st.portals.get(portal) match {
      case None =>
        writeError(out, "34000", s"portal \"$portal\" does not exist")
        st.skipUntilSync = true
      case Some(p) =>
        try {
          val df = textualize(st.sess.sql(p.sql))
          val fmts = resolveFormats(df.schema, p.resultFormats)
          val n =
            if (df.schema.nonEmpty) writeRows(out, df, fmts) else 0L
          dmlTagNotice(p.sql).foreach(writeNotice(out, _))
          writeMsg(out, 'C') { b => writeCStr(b, commandTag(p.sql, n)) }
        } catch {
          case e: UnsupportedOperationException =>
            writeError(out, "0A000", String.valueOf(e.getMessage))
            st.skipUntilSync = true
          case e: Exception =>
            writeError(out, "42601", String.valueOf(e.getMessage))
            st.skipUntilSync = true
        }
    }
  }

  private def closeTarget(st: SessionState, out: DataOutputStream,
      payload: Array[Byte]): Unit = {
    val r = new PayloadReader(payload)
    val kind = r.byte().toChar
    val name = r.cstr()
    if (kind == 'S') st.statements.remove(name) else st.portals.remove(name)
    writeMsg(out, '3') { _ => } // CloseComplete
  }

  // ---- execution helpers ----

  /** Complex columns can't ride the text format as scala toString —
    * serialize array/map/struct to JSON in-plan (codegen'd `to_json`),
    * so the collect ships strings and the client sees valid JSON. */
  private def textualize(df: DataFrame): DataFrame = {
    val needsJson = df.schema.fields.exists(f => isComplex(f.dataType))
    if (!needsJson) df
    else df.select(df.schema.fields.map { f =>
      if (isComplex(f.dataType)) to_json(col(s"`${f.name}`")).as(f.name)
      else col(s"`${f.name}`")
    }.toSeq: _*)
  }

  private def isComplex(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType | _: StructType => true
    case _ => false
  }

  /** Text-format rendering per postgres conventions (bool t/f,
    * `yyyy-MM-dd HH:mm:ss[.ffffff]` timestamps — NEVER
    * LocalDateTime.toString, which uses a 'T' separator and drops :00
    * seconds, neither of which postgres text parsers accept — plain
    * decimals, hex bytea); everything else toString. */
  private def renderCell(v: Any): String = v match {
    case b: Boolean => if (b) "t" else "f"
    case t: java.sql.Timestamp => pgTimestamp(t.toLocalDateTime)
    case d: java.time.LocalDateTime => pgTimestamp(d) // TIMESTAMP_NTZ collects as this
    case i: java.time.Instant =>
      pgTimestamp(java.time.LocalDateTime.ofInstant(i, java.time.ZoneOffset.UTC))
    case d: java.math.BigDecimal => d.toPlainString
    case d: BigDecimal => d.bigDecimal.toPlainString
    case bytes: Array[Byte] => // bytea hex format
      "\\x" + bytes.map(b => f"$b%02x").mkString
    case other => String.valueOf(other)
  }

  private def pgTimestamp(d: java.time.LocalDateTime): String = {
    val base = f"${d.getYear}%04d-${d.getMonthValue}%02d-${d.getDayOfMonth}%02d " +
      f"${d.getHour}%02d:${d.getMinute}%02d:${d.getSecond}%02d"
    if (d.getNano == 0) base else base + f".${d.getNano / 1000}%06d"
  }

  /** Collect capped at maxRows (+1 probe row to detect truncation),
    * through the server's [[ResultCache]], and stream DataRow messages;
    * NoticeResponse when the cap fires — the wire protocol's equivalent
    * of the HTTP gateway's `truncated`.
    * `formats` is one code per column (resolved by [[resolveFormats]]):
    * 0 ships the postgres text rendering, 1 the binary encoding. */
  private def writeRows(out: DataOutputStream, df: DataFrame,
      formats: IndexedSeq[Int] = IndexedSeq.empty): Long = {
    val types = df.schema.fields.map(_.dataType)
    def fmt(i: Int): Int = if (i < formats.length) formats(i) else 0
    val rows = cache.rows(df, maxRows)
    val emit = rows.take(maxRows)
    emit.foreach { row =>
      writeMsg(out, 'D') { b =>
        b.writeShort(row.length)
        (0 until row.length).foreach { i =>
          if (row.isNullAt(i)) b.writeInt(-1)
          else if (fmt(i) == 1) writeBinaryCell(b, row.get(i), types(i))
          else {
            val bytes = renderCell(row.get(i)).getBytes(StandardCharsets.UTF_8)
            b.writeInt(bytes.length)
            b.write(bytes)
          }
        }
      }
    }
    if (rows.length > maxRows)
      writeNotice(out, s"result truncated at $maxRows rows")
    emit.length.toLong
  }

  private val PgEpochDay = 10957L             // 2000-01-01 in unix days
  private val PgEpochMicros = 946684800000000L // 2000-01-01T00:00Z in unix µs

  /** Binary-format cell per the postgres wire encodings: network-order
    * fixed-width ints/floats, 1-byte bool, raw utf8 for text, raw bytes
    * for bytea, day/µs offsets from the 2000-01-01 postgres epoch for
    * date/timestamp. Only called for types [[resolveFormats]] admitted. */
  private def writeBinaryCell(b: DataOutputStream, v: Any, dt: DataType): Unit = {
    // pg oid 1114 binary carries WALL-CLOCK microseconds — the binary
    // cell must encode the same wall-clock the text path renders
    // (renderCell), or the same value reads differently per requested
    // format. java.sql.Timestamp therefore goes through toLocalDateTime
    // (the text path's clock), NOT getTime's UTC instant, so the two
    // formats agree on any JVM default timezone.
    def epochMicros(v: Any): Long = v match {
      case t: java.sql.Timestamp =>
        epochMicros(t.toLocalDateTime)
      case i: java.time.Instant => // text path renders instants at UTC
        i.getEpochSecond * 1000000L + i.getNano / 1000L
      case d: java.time.LocalDateTime => // NTZ: wall-clock, rendered at UTC
        d.toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L +
          d.getNano / 1000L
      case other => throw new UnsupportedOperationException(
        s"unexpected timestamp class ${other.getClass.getName}")
    }
    dt match {
      case BooleanType =>
        b.writeInt(1); b.writeByte(if (v.asInstanceOf[Boolean]) 1 else 0)
      case ShortType | ByteType =>
        b.writeInt(2); b.writeShort(v.asInstanceOf[Number].intValue())
      case IntegerType =>
        b.writeInt(4); b.writeInt(v.asInstanceOf[Number].intValue())
      case LongType =>
        b.writeInt(8); b.writeLong(v.asInstanceOf[Number].longValue())
      case FloatType =>
        b.writeInt(4); b.writeFloat(v.asInstanceOf[Number].floatValue())
      case DoubleType =>
        b.writeInt(8); b.writeDouble(v.asInstanceOf[Number].doubleValue())
      case StringType => // binary text IS utf8 text
        val bytes = String.valueOf(v).getBytes(StandardCharsets.UTF_8)
        b.writeInt(bytes.length); b.write(bytes)
      case BinaryType =>
        val bytes = v.asInstanceOf[Array[Byte]]
        b.writeInt(bytes.length); b.write(bytes)
      case DateType =>
        val days = v match {
          case d: java.sql.Date => d.toLocalDate.toEpochDay
          case d: java.time.LocalDate => d.toEpochDay
          case other => throw new UnsupportedOperationException(
            s"unexpected date class ${other.getClass.getName}")
        }
        b.writeInt(4); b.writeInt((days - PgEpochDay).toInt)
      case TimestampType | TimestampNTZType =>
        b.writeInt(8); b.writeLong(epochMicros(v) - PgEpochMicros)
      case _: DecimalType =>
        writeNumericBinary(b, v.asInstanceOf[java.math.BigDecimal])
      case other => throw new UnsupportedOperationException(
        s"binary result format not supported for type ${other.simpleString}")
    }
  }

  /** Postgres binary NUMERIC: `int16 ndigits, weight, sign, dscale`
    * followed by `ndigits` base-10000 digit groups, the first weighted
    * `10000^weight`. The digit string is aligned so the decimal point
    * falls on a group boundary, then leading/trailing zero groups are
    * stripped (weight tracks the strip); dscale carries the value's
    * display scale, so pgJDBC/psycopg reconstruct the exact decimal the
    * text path would have rendered. Zero is the canonical empty-digits
    * form. Spark decimals are finite, so the NaN sign (0xC000) is never
    * written. */
  private def writeNumericBinary(b: DataOutputStream,
      v0: java.math.BigDecimal): Unit = {
    val dscale = math.max(v0.scale, 0)
    val v = v0.setScale(dscale) // plain digits (expands 1E+2 forms)
    val neg = v.signum() < 0
    val unscaled = v.abs().unscaledValue().toString
    val digitsOnly = // value < 1: restore the leading zeros of the fraction
      if (unscaled.length < dscale) "0" * (dscale - unscaled.length) + unscaled
      else unscaled
    val intLen = digitsOnly.length - dscale
    val lpad = (4 - intLen % 4) % 4
    val rpad = (4 - dscale % 4) % 4
    val aligned = ("0" * lpad) + digitsOnly + ("0" * rpad)
    var groups = aligned.grouped(4).map(_.toInt).toIndexedSeq
    var weight = (intLen + lpad) / 4 - 1
    val lead = groups.indexWhere(_ != 0)
    if (lead < 0) { groups = IndexedSeq.empty; weight = 0 } // zero
    else {
      weight -= lead
      groups = groups.slice(lead, groups.lastIndexWhere(_ != 0) + 1)
    }
    b.writeInt(8 + 2 * groups.length)
    b.writeShort(groups.length)
    b.writeShort(weight)
    b.writeShort(if (neg && groups.nonEmpty) 0x4000 else 0x0000)
    b.writeShort(dscale)
    groups.foreach(b.writeShort)
  }

  /** Decode a binary NUMERIC parameter to its canonical plain-text
    * form. NaN (sign 0xC000) is refused — SQL decimal has no NaN — and
    * malformed group values or a non-exact dscale are rejected as
    * invalid parameter bytes, never guessed. */
  private def decodeNumericBinary(bytes: Array[Byte]): String = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    if (bytes.length < 8) throw new IllegalArgumentException(
      s"binary numeric parameter must be >= 8 bytes, got ${bytes.length}")
    val nd = bb.getShort.toInt
    val weight = bb.getShort.toInt
    val sign = bb.getShort & 0xFFFF
    val dscale = bb.getShort.toInt
    if (bytes.length != 8 + 2 * nd) throw new IllegalArgumentException(
      s"binary numeric parameter declares $nd digit groups but has " +
        s"${bytes.length - 8} payload bytes")
    if (sign == 0xC000) throw new UnsupportedOperationException(
      "NaN numeric has no SQL decimal representation")
    if (sign != 0x0000 && sign != 0x4000) throw new IllegalArgumentException(
      f"invalid numeric sign word 0x$sign%04X")
    if (dscale < 0) throw new IllegalArgumentException(
      s"invalid numeric dscale $dscale")
    var acc = java.math.BigDecimal.ZERO
    var i = 0
    while (i < nd) {
      val d = bb.getShort.toInt
      if (d < 0 || d > 9999) throw new IllegalArgumentException(
        s"numeric digit group $d out of base-10000 range")
      acc = acc.add(
        java.math.BigDecimal.valueOf(d.toLong).movePointRight(4 * (weight - i)))
      i += 1
    }
    val scaled =
      try acc.setScale(dscale, java.math.RoundingMode.UNNECESSARY)
      catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"numeric digits carry more precision than dscale $dscale declares")
      }
    (if (sign == 0x4000) scaled.negate() else scaled).toPlainString
  }

  /** Expand Bind's result format codes (0 entries = all text, 1 = all
    * columns, else per column) against the result schema, refusing — in
    * the declared-capability error class, not by shipping garbage — any
    * BINARY request for a type this server has no binary encoding for
    * (complex columns are already JSON text by the time they hit the
    * wire). */
  private def resolveFormats(schema: StructType,
      requested: IndexedSeq[Int]): IndexedSeq[Int] = {
    if (requested.isEmpty || schema.isEmpty) return IndexedSeq.empty
    val codes: IndexedSeq[Int] =
      if (requested.length == 1) IndexedSeq.fill(schema.length)(requested.head)
      else if (requested.length == schema.length) requested
      else throw new UnsupportedOperationException(
        s"bind message has ${requested.length} result formats but query " +
          s"has ${schema.length} columns")
    schema.fields.zip(codes).foreach { case (f, c) =>
      if (c != 0 && c != 1) // Bind validates; kept as defense in depth
        throw new UnsupportedOperationException(s"unsupported format code: $c")
      if (c == 1 && !binaryCapable(f.dataType))
        throw new UnsupportedOperationException(
          "binary result format not supported for type " +
            s"${f.dataType.simpleString} (column ${f.name})")
    }
    codes
  }

  private def binaryCapable(dt: DataType): Boolean = dt match {
    case BooleanType | ShortType | ByteType | IntegerType | LongType |
         FloatType | DoubleType | StringType | BinaryType | DateType |
         TimestampType | TimestampNTZType => true
    case _: DecimalType => true // pg binary numeric (base-10000 groups)
    case c if isComplex(c) => true // ships as JSON text (oid 25)
    case _ => false
  }

  /** Decode one BINARY-format Bind parameter into the canonical text
    * form [[PgParams.literal]] validates and inlines — network-order
    * fixed-width numerics, 1-byte bool, postgres-epoch date/timestamp,
    * raw utf8 for text/unknown. Wrong width → 22P02; an oid with no
    * binary decoding here → 0A000, never a guess. */
  private def decodeBinaryParam(bytes: Array[Byte], oid: Int): String = {
    val bb = java.nio.ByteBuffer.wrap(bytes) // network order = BE default
    def need(n: Int): Unit =
      if (bytes.length != n) throw new IllegalArgumentException(
        s"binary parameter for type oid $oid must be $n bytes, got ${bytes.length}")
    oid match {
      case 16 => need(1); if (bytes(0) != 0) "true" else "false"
      case 21 => need(2); bb.getShort.toString
      case 23 => need(4); bb.getInt.toString
      case 20 => need(8); bb.getLong.toString
      case 700 => need(4); bb.getFloat.toString
      case 701 => need(8); bb.getDouble.toString
      case 1082 =>
        need(4)
        java.time.LocalDate.ofEpochDay(bb.getInt.toLong + PgEpochDay).toString
      case 1114 | 1184 =>
        need(8)
        val micros = bb.getLong + PgEpochMicros
        val wall = pgTimestamp(java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
            Math.floorMod(micros, 1000000L) * 1000L),
          java.time.ZoneOffset.UTC))
        // timestamptz binary is an ABSOLUTE instant (µs since the pg
        // epoch at UTC); the rendered wall-clock is UTC, so the literal
        // must SAY so or Spark re-reads it in the session timezone,
        // shifting the instant. Plain timestamp (1114) is wall-clock by
        // definition and ships bare.
        if (oid == 1184) wall + "+00:00" else wall
      case 1700 => decodeNumericBinary(bytes)
      case 0 | 25 | 1043 => new String(bytes, StandardCharsets.UTF_8)
      case other => throw new UnsupportedOperationException(
        s"binary parameter format not supported for type oid $other")
    }
  }

  /** pg_type OIDs for the types Spark emits; unknowns ship as text. */
  private def pgType(dt: DataType): (Int, Int) = dt match { // (oid, size)
    case BooleanType => (16, 1)
    case ShortType | ByteType => (21, 2)
    case IntegerType => (23, 4)
    case LongType => (20, 8)
    case FloatType => (700, 4)
    case DoubleType => (701, 8)
    case _: DecimalType => (1700, -1)
    case DateType => (1082, 4)
    case TimestampType | TimestampNTZType => (1114, 8)
    case BinaryType => (17, -1)
    case _ => (25, -1) // text
  }

  private def writeRowDescription(out: DataOutputStream, schema: StructType,
      formats: IndexedSeq[Int] = IndexedSeq.empty): Unit =
    writeMsg(out, 'T') { b =>
      b.writeShort(schema.length)
      schema.fields.zipWithIndex.foreach { case (f, i) =>
        val (oid, size) = pgType(f.dataType)
        writeCStr(b, f.name)
        b.writeInt(0)   // table oid
        b.writeShort(0) // column attr number
        b.writeInt(oid)
        b.writeShort(size)
        b.writeInt(-1)  // type modifier
        b.writeShort(if (i < formats.length) formats(i) else 0)
      }
    }

  /** Postgres-style command tag: SELECT gets its row count; DDL/utility
    * statements echo their leading verb(s) the way postgres does
    * ("CREATE VIEW", "DROP TABLE", ...). Verbs are read past leading
    * comments/whitespace, so `/* dbt */ SELECT 1` tags as a SELECT. */
  private def commandTag(sql: String, rows: Long): String = {
    val words = leadingKeywords(sql, 2)
    words.headOption match {
      case Some("SELECT") | Some("WITH") | Some("VALUES") | Some("SHOW") |
           Some("DESCRIBE") | Some("DESC") | Some("EXPLAIN") |
           Some("TABLE") => s"SELECT $rows"
      case Some(v) if words.length > 1 &&
          (v == "CREATE" || v == "DROP" || v == "ALTER") =>
        s"$v ${words(1)}"
      // DML tags carry a row count in postgres ("INSERT 0 N" — the 0 is
      // a legacy OID slot — "UPDATE N", "DELETE N"); tag-parsing clients
      // (pgJDBC executeUpdate, psycopg2 rowcount) split on that format,
      // so a bare verb mis-parses. Spark SQL commands don't report
      // affected counts; `INSERT ... VALUES` gets its statically-known
      // tuple count, every other DML reports 0 WITH a NoticeResponse
      // ([[dmlTagNotice]]) so clients branching on the count aren't
      // silently misled.
      case Some("INSERT") =>
        s"INSERT 0 ${PgWireServer.staticInsertValuesCount(sql).getOrElse(0L)}"
      case Some("UPDATE") => "UPDATE 0"
      case Some("DELETE") => "DELETE 0"
      case Some("MERGE") => "MERGE 0"
      case Some(v) => v
      case None => "SELECT 0"
    }
  }

  /** The honesty companion to [[commandTag]]'s DML zeros: postgres
    * clients branch on affected-row counts (pgJDBC executeUpdate,
    * psycopg2 rowcount), and Spark doesn't report them — say so on the
    * wire instead of letting a successful write read as a no-op. */
  private def dmlTagNotice(sql: String): Option[String] =
    leadingKeywords(sql, 1).headOption match {
      case Some("INSERT") if PgWireServer.staticInsertValuesCount(sql).isEmpty =>
        Some("affected-row count is not reported by this gateway; the INSERT command tag carries 0")
      case Some("UPDATE") | Some("DELETE") | Some("MERGE") =>
        Some("affected-row counts are not reported by this gateway; DML command tags carry 0")
      case _ => None
    }

  /** First `n` word tokens of `sql`, uppercased, skipping leading
    * whitespace and SQL comments — the one place "what statement is
    * this" sniffing lives. */
  private def leadingKeywords(sql: String, n: Int): Seq[String] = {
    val words = Vector.newBuilder[String]
    var count = 0
    var i = 0
    while (i < sql.length && count < n) {
      val c = sql.charAt(i)
      val next = if (i + 1 < sql.length) sql.charAt(i + 1) else ' '
      if (c.isWhitespace) i += 1
      else if (c == '-' && next == '-') {
        while (i < sql.length && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && next == '*') {
        i += 2
        while (i + 1 < sql.length &&
          !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
        i = math.min(i + 2, sql.length)
      } else {
        val start = i
        while (i < sql.length && !sql.charAt(i).isWhitespace &&
          sql.charAt(i) != ';' && sql.charAt(i) != '(') i += 1
        if (i > start) { words += sql.substring(start, i).toUpperCase; count += 1 }
        else i += 1
      }
    }
    words.result()
  }

  // ---- frame writers ----

  private def writeMsg(out: DataOutputStream, tpe: Char)(
      body: DataOutputStream => Unit): Unit = {
    val buf = new java.io.ByteArrayOutputStream()
    val b = new DataOutputStream(buf)
    body(b)
    b.flush()
    out.writeByte(tpe)
    out.writeInt(4 + buf.size())
    buf.writeTo(out)
  }

  private def writeReady(out: DataOutputStream): Unit =
    writeMsg(out, 'Z') { b => b.writeByte('I') } // idle, no transactions

  private def writeError(out: DataOutputStream, code: String, msg: String): Unit = {
    writeMsg(out, 'E') { b =>
      b.writeByte('S'); writeCStr(b, "ERROR")
      b.writeByte('V'); writeCStr(b, "ERROR")
      b.writeByte('C'); writeCStr(b, code)
      b.writeByte('M'); writeCStr(b, msg)
      b.writeByte(0)
    }
    out.flush()
  }

  private def writeNotice(out: DataOutputStream, msg: String): Unit =
    writeMsg(out, 'N') { b =>
      b.writeByte('S'); writeCStr(b, "NOTICE")
      b.writeByte('V'); writeCStr(b, "NOTICE")
      b.writeByte('C'); writeCStr(b, "01000")
      b.writeByte('M'); writeCStr(b, msg)
      b.writeByte(0)
    }

  private def writeCStr(out: DataOutputStream, s: String): Unit = {
    out.write(s.getBytes(StandardCharsets.UTF_8))
    out.writeByte(0)
  }

  /** Cursor over a received payload (big-endian, NUL-terminated strings
    * — the protocol's field encodings). */
  private final class PayloadReader(bytes: Array[Byte]) {
    private var pos = 0
    def byte(): Byte = { val v = bytes(pos); pos += 1; v }
    def int16(): Int = { val v = ((bytes(pos) & 0xff) << 8) | (bytes(pos + 1) & 0xff); pos += 2; v }
    def int32(): Int = {
      val v = ((bytes(pos) & 0xff) << 24) | ((bytes(pos + 1) & 0xff) << 16) |
        ((bytes(pos + 2) & 0xff) << 8) | (bytes(pos + 3) & 0xff)
      pos += 4; v
    }
    def cstr(): String = {
      val start = pos
      while (pos < bytes.length && bytes(pos) != 0) pos += 1
      val s = new String(bytes, start, pos - start, StandardCharsets.UTF_8)
      pos += 1
      s
    }
    def take(len: Int): Array[Byte] = {
      if (len < 0 || pos + len > bytes.length)
        throw new IOException(s"bad field length $len")
      val v = java.util.Arrays.copyOfRange(bytes, pos, pos + len)
      pos += len
      v
    }
  }
}

/** Text-format `$n` parameter substitution for the pg-wire extended
  * protocol: Bind's parameter values become typed SQL literals inlined
  * into the statement text before it reaches `spark.sql`.
  *
  * Safety: a parameter can never change the statement's shape —
  * numeric/bool/temporal values are VALIDATED before they are inlined
  * bare, and everything else is inlined as a string literal with quote
  * and backslash escaping. `$n` tokens are recognized only OUTSIDE
  * string literals, quoted identifiers and comments (a literal `'$1'`
  * stays text), and never as the tail of an identifier (`a$1` is an
  * identifier, not a parameter).
  *
  * Typing follows the Parse message's declared OIDs (pgJDBC declares
  * one per setX call); an undeclared (0 / absent) OID binds as text,
  * which Spark's ANSI coercion handles in comparisons the same way
  * postgres's `unknown` type does. */
private[query] object PgWireServer {

  /** Statically-known row count for `INSERT INTO t [(cols)] VALUES
    * (...), (...)`: the number of top-level tuple groups after the
    * VALUES keyword. None for INSERT...SELECT (count unknowable without
    * executing twice) — those fall back to 0 + [[dmlTagNotice]]. The
    * scan honors strings/comments/nesting so a 'VALUES' inside a
    * literal or a subquery's parens can't miscount. */
  private[query] def staticInsertValuesCount(sql: String): Option[Long] = {
    var i = 0
    val n = sql.length
    var depth = 0
    var sawValues = false
    var tuples = 0L
    var inTuple = false
    while (i < n) {
      val c = sql.charAt(i)
      val next = if (i + 1 < n) sql.charAt(i + 1) else ' '
      // after VALUES, the only countable top-level tokens are tuple
      // parens, separators, whitespace and comments. Spark's inline-
      // table grammar ALSO accepts bare expression rows (`VALUES (1),
      // 2`, `VALUES 1, 'x'`), which a paren counter cannot count — any
      // other top-level character bails to the honest 0-plus-notice
      // fallback rather than a confident wrong count.
      if (sawValues && depth == 0 && !c.isWhitespace && c != ',' &&
          c != '(' && !(c == '-' && next == '-') && !(c == '/' && next == '*'))
        return None
      if (c == '\'') { // string literal (Spark rules, as in PgParams.walk)
        i += 1
        var closed = false
        while (i < n && !closed) {
          val d = sql.charAt(i)
          if (d == '\\' && i + 1 < n) i += 2
          else if (d == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') i += 2
          else if (d == '\'') { closed = true; i += 1 }
          else i += 1
        }
      } else if (c == '"' || c == '`') {
        i += 1
        while (i < n && sql.charAt(i) != c) i += 1
        if (i < n) i += 1
      } else if (c == '-' && next == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && next == '*') {
        i += 2
        while (i + 1 < n && !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
        i += 2
      } else if (c == '(') {
        if (sawValues && depth == 0) { tuples += 1; inTuple = true }
        depth += 1; i += 1
      } else if (c == ')') {
        depth -= 1
        if (depth == 0) inTuple = false
        i += 1
      } else if (!sawValues && depth == 0 && c.isLetter) {
        var j = i
        while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
        val word = sql.substring(i, j).toUpperCase(java.util.Locale.ROOT)
        if (word == "VALUES") sawValues = true
        else if (word == "SELECT" || word == "WITH") return None // INSERT...SELECT
        i = j
      } else i += 1
    }
    if (sawValues && tuples > 0 && depth == 0 && !inTuple) Some(tuples) else None
  }
}

private[query] object PgParams {

  /** Substitute `params` into `sql`. With `probe = true` (Describe on a
    * statement, values not yet bound) every `$n` becomes a typed NULL so
    * the statement can be analyzed for its result schema. Throws
    * `IllegalArgumentException` on a parameter-count mismatch or a value
    * that fails its declared type's validation. */
  def substitute(sql: String, params: IndexedSeq[Option[String]],
      oids: IndexedSeq[Int], probe: Boolean = false): String = {
    val (out, maxRef) = walk(sql) { k =>
      val oid = if (k <= oids.length) oids(k - 1) else 0
      if (probe) nullLiteral(oid)
      else if (k > params.length) throw new IllegalArgumentException(
        s"bind message supplies ${params.length} parameters, but " +
          s"prepared statement requires at least $k ($$$k referenced)")
      else literal(params(k - 1), oid)
    }
    if (!probe && params.length > maxRef)
      throw new IllegalArgumentException(
        s"bind message supplies ${params.length} parameters, but " +
          s"prepared statement requires $maxRef")
    out
  }

  /** Number of parameters `sql` actually references (highest `$n`) —
    * what ParameterDescription must report: the protocol lets Parse
    * declare FEWER type OIDs than the statement uses (many drivers
    * declare zero and learn the count from Describe). */
  def paramCount(sql: String): Int = walk(sql)(_ => "?")._2

  /** The one `$n` scanner: rewrite each placeholder via `onParam`
    * (1-based index → replacement text), skipping string literals
    * (backslash escapes and '' doubling — Spark's rules, since the
    * output feeds `spark.sql`), quoted identifiers and comments, and
    * never matching `$` at the tail of an identifier. Returns the
    * rewritten text and the highest index seen. */
  private def walk(sql: String)(onParam: Int => String): (String, Int) = {
    val out = new java.lang.StringBuilder(sql.length + 16)
    val n = sql.length
    def isIdentChar(c: Char) = c.isLetterOrDigit || c == '_' || c == '$'
    var i = 0
    var maxRef = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'') { // string literal: honor \' escapes and '' doubling
        out.append(c); i += 1
        var closed = false
        while (i < n && !closed) {
          val d = sql.charAt(i)
          out.append(d)
          if (d == '\\' && i + 1 < n) { out.append(sql.charAt(i + 1)); i += 2 }
          else if (d == '\'' && i + 1 < n && sql.charAt(i + 1) == '\'') {
            out.append('\''); i += 2
          } else if (d == '\'') { closed = true; i += 1 }
          else i += 1
        }
      } else if (c == '"' || c == '`') { // quoted identifier
        out.append(c); i += 1
        while (i < n && sql.charAt(i) != c) { out.append(sql.charAt(i)); i += 1 }
        if (i < n) { out.append(c); i += 1 }
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') { out.append(sql.charAt(i)); i += 1 }
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        out.append("/*"); i += 2
        while (i + 1 < n && !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) {
          out.append(sql.charAt(i)); i += 1
        }
        if (i + 1 < n) { out.append("*/"); i += 2 } else i = n
      } else if (c == '$' && i + 1 < n && sql.charAt(i + 1).isDigit &&
          (i == 0 || !isIdentChar(sql.charAt(i - 1)))) {
        var j = i + 1
        while (j < n && sql.charAt(j).isDigit) j += 1
        val k =
          try sql.substring(i + 1, j).toInt
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"invalid parameter reference ${sql.substring(i, j)}") }
        if (k < 1) throw new IllegalArgumentException(
          s"there is no parameter $$$k")
        maxRef = math.max(maxRef, k)
        out.append(onParam(k))
        i = j
      } else { out.append(c); i += 1 }
    }
    (out.toString, maxRef)
  }

  /** Spark type name for a typed NULL slot, from the pg type OID. */
  private def sparkTypeName(oid: Int): String = oid match {
    case 16 => "BOOLEAN"
    case 21 => "SMALLINT"
    case 23 => "INT"
    case 20 => "BIGINT"
    case 700 => "FLOAT"
    case 701 => "DOUBLE"
    case 1700 => "DECIMAL(38,18)"
    case 1082 => "DATE"
    case 1114 | 1184 => "TIMESTAMP"
    case _ => "STRING"
  }

  private def nullLiteral(oid: Int): String =
    s"CAST(NULL AS ${sparkTypeName(oid)})"

  /** Render one bound value as a SQL literal of its declared type.
    * Numeric/bool values are parsed first, so only a VALIDATED
    * canonical form is ever inlined bare; temporal values ride inside
    * escaped typed literals; everything else is an escaped string. */
  private def literal(value: Option[String], oid: Int): String = value match {
    case None => nullLiteral(oid)
    case Some(v) => oid match {
      case 16 => v.trim.toLowerCase match {
        case "t" | "true" | "1" | "on" | "yes" => "true"
        case "f" | "false" | "0" | "off" | "no" => "false"
        case other => throw new IllegalArgumentException(
          s"invalid input syntax for type boolean: \"$other\"")
      }
      case 20 | 21 | 23 =>
        try java.lang.Long.parseLong(v.trim).toString
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"invalid input syntax for type integer: \"$v\"") }
      case 700 | 701 =>
        // validated, then inlined via a cast from the text form —
        // covers NaN/Infinity, which bare SQL double literals can't
        try { java.lang.Double.parseDouble(v.trim); s"CAST('${escape(v.trim)}' AS DOUBLE)" }
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"invalid input syntax for type double precision: \"$v\"") }
      case 1700 =>
        try { new java.math.BigDecimal(v.trim); v.trim }
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"invalid input syntax for type numeric: \"$v\"") }
      case 1082 => s"DATE '${escape(v.trim)}'"
      case 1114 | 1184 => s"TIMESTAMP '${escape(v.trim)}'"
      case _ => s"'${escape(v)}'"
    }
  }

  /** Escape for inlining inside a single-quoted Spark SQL literal.
    * Quotes are escaped by DOUBLING (''), an in-string escape under
    * BOTH of Spark's parser modes — backslash-escaping a quote is an
    * escape only under the default mode, so with
    * `spark.sql.parser.escapedStringLiterals=true` it would let a
    * crafted value close the literal and alter the statement shape.
    * Backslashes are doubled for the default mode, where \ IS an
    * escape character (under the legacy conf a backslash-bearing VALUE
    * round-trips doubled — a fidelity cost on an exotic conf, never a
    * shape change). */
  private def escape(v: String): String =
    v.replace("\\", "\\\\").replace("'", "''")
}
