package perfbench

import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

/** SplitMix64 finaliser folded over a key: every generated value is a
  * pure function of (seed, key), so executors regenerate the same chain
  * the driver computes its expected totals from. */
object Mix {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, xs: Long*): Long = xs.foldLeft(mix(seed))((a, x) => mix(a ^ x))
  def below(n: Long, seed: Long, xs: Long*): Long = java.lang.Long.remainderUnsigned(h(seed, xs: _*), n)
}

/** JVM-wide fetch counters (executors run in the driver JVM under
  * `local[n]`, so the serialized fetcher's calls land here). */
object FetchCounters {
  val calls, busyNanos, rawBytes, usefulPages, failures = new LongAdder
  private val all = Seq(calls, busyNanos, rawBytes, usefulPages, failures)
  def snapshot(): Seq[Long] = all.map(_.sum())
}

/** Tx kinds the generator emits; each maps to the log/event shape below. */
object TxKind {
  val Transfer = 0; val Delegate = 1; val IbcRecv = 2; val IbcSend = 3
}

final case class Tx(height: Long, index: Int, hash: String, kind: Int,
    gasWanted: Long, gasUsed: Long, amount: Long, malformedLog: Boolean)

/** Closed-form expected contents of a zone holding heights 1..tip. */
final case class Expected(tip: Long, blocks: Long, txs: Long,
    logAttributeRows: Long, eventRows: Long, days: Int,
    gasByDay: Map[String, Long], txsByDay: Map[String, Long],
    ibcIn: Long, ibcInAmount: Long, ibcOut: Long, ibcOutAmount: Long,
    txPrefix: Array[Long]) {
  /** tx_result rows with height in [lo, hi]. */
  def txsBetween(lo: Long, hi: Long): Long = txPrefix(hi.toInt) - txPrefix(lo.toInt - 1)
}

/** A seeded synthetic Cosmos chain served the way a Tendermint RPC node
  * paginates `/abci_info`, `/block_search` and `/tx_search`
  * (`total_count`, `page`, `per_page`).
  *
  * Shape: `blocksPerDay` blocks a day from 2023-08-01, so hive
  * partitions fan out over many days; a skewed tx count per block;
  * repeated `(type, key)` attributes inside a tx (the events pivot's
  * occurrence path); a share of malformed `log` strings; IBC send/recv
  * txs so every analytics model returns rows.
  *
  * Faults (when `faults`): the count probe of the chunk of the kind
  * holding a flaky height fails on its first fetch (the chunk
  * quarantines, gap-fill heals it), and one seeded early page of every
  * chunk fails on its first fetch at the initial per_page of 100 (the chunk
  * degrades to 50 for the rest of its pages). Every URL fails at most
  * once per JVM, so each refetch heals. Every call pays
  * `pageDelayMicros`. */
final case class SyntheticChain(seed: Long, tip0: Long, blocksPerDay: Int,
    pageDelayMicros: Int, faults: Boolean) {

  private val genesisMs = 1690848000000L // 2023-08-01T00:00:00Z
  private val intervalMs = 86400000L / blocksPerDay

  /** One flaky (kind, height) per half of the initial chain: a txs chunk
    * of the backfill window and a blocks chunk of the sync window. One
    * kind per stage, so each stage quarantines one of its chunks, never
    * all of them. */
  val flakyHeights: Seq[(String, Long)] = if (!faults) Nil else Seq(
    "txs" -> (1 + Mix.below(tip0 / 2 - 1, seed, 11)),
    "blocks" -> (tip0 / 2 + 1 + Mix.below(tip0 / 2 - 1, seed, 12)))

  def blockMs(height: Long): Long = genesisMs + (height - 1) * intervalMs

  def day(height: Long): String =
    java.time.LocalDate.ofEpochDay(blockMs(height) / 86400000L).toString

  def blockTime(height: Long): String = {
    val t = java.time.LocalDateTime.ofEpochSecond(blockMs(height) / 1000, 0,
      java.time.ZoneOffset.UTC)
    val nanos = (blockMs(height) % 1000) * 1000000L + Mix.below(1000000, seed, 5, height)
    f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02dT" +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d.$nanos%09dZ"
  }

  /** Skewed: 80% of blocks are empty, 0.3% carry 12 txs. */
  def txCount(height: Long): Int = Mix.below(1000, seed, 1, height) match {
    case r if r < 800 => 0
    case r if r < 900 => 1
    case r if r < 955 => 2
    case r if r < 985 => 4
    case r if r < 997 => 8
    case _            => 12
  }

  def tx(height: Long, i: Int): Tx = {
    val k = Mix.h(seed, 2, height, i)
    val kind = java.lang.Long.remainderUnsigned(k, 100) match {
      case r if r < 10 => TxKind.IbcRecv
      case r if r < 20 => TxKind.IbcSend
      case r if r < 28 => TxKind.Delegate
      case _           => TxKind.Transfer
    }
    val wanted = 100000 + ((k >>> 16) & 0x3ffff) % 200000
    Tx(height, i,
      f"${Mix.h(seed, 3, height, i)}%016X${Mix.h(seed, 4, height, i)}%016X",
      kind, wanted, wanted - ((k >>> 34) & 0xffff) % 50000,
      1 + ((k >>> 20) & 0xfffff),
      kind == TxKind.Transfer && ((k >>> 8) & 0xff) % 100 < 4)
  }

  // ---- tx payloads ----

  private def addr(tag: Long, x: Long) = f"akash1${Mix.h(seed, tag, x)}%016x"

  /** Events of one tx as (type, [(key, value)]), shared by the `log`
    * JSON (plain strings) and `tx_result.events` (base64). */
  def events(t: Tx): Seq[(String, Seq[(String, String)])] = {
    val s = addr(6, t.height * 64 + t.index)
    val r = addr(7, t.height * 64 + t.index)
    val ch = s"channel-${Mix.below(8, seed, 8, t.height)}"
    t.kind match {
      case TxKind.Transfer => Seq(
        "coin_spent" -> Seq("spender" -> s, "amount" -> s"${t.amount}uakt"),
        "coin_received" -> Seq("receiver" -> r, "amount" -> s"${t.amount}uakt"),
        "transfer" -> Seq("recipient" -> r, "sender" -> s, "amount" -> s"${t.amount}uakt"),
        "message" -> Seq("action" -> "/cosmos.bank.v1beta1.MsgSend",
          "sender" -> s, "module" -> "bank"),
        "transfer" -> Seq("recipient" -> "akash1feecollector", "sender" -> s,
          "amount" -> s"${t.gasWanted / 40}uakt"))
      case TxKind.Delegate => Seq(
        "message" -> Seq("action" -> "/cosmos.staking.v1beta1.MsgDelegate",
          "sender" -> s, "module" -> "staking"),
        "delegate" -> Seq("validator" -> r, "amount" -> s"${t.amount}uakt"),
        "coin_spent" -> Seq("spender" -> s, "amount" -> s"${t.amount}uakt"))
      case TxKind.IbcRecv => Seq(
        "message" -> Seq("action" -> "/ibc.core.channel.v1.MsgRecvPacket",
          "module" -> "ibc_channel"),
        "message" -> Seq("module" -> "ibc_channel"),
        "recv_packet" -> Seq("packet_src_port" -> "transfer",
          "packet_src_channel" -> ch, "packet_dst_port" -> "transfer",
          "packet_dst_channel" -> "channel-0"),
        "fungible_token_packet" -> Seq("sender" -> s"osmo1${s.drop(6)}",
          "receiver" -> r, "amount" -> t.amount.toString, "denom" -> "uosmo"),
        "transfer" -> Seq("recipient" -> r, "sender" -> "akash1escrow",
          "amount" -> s"${t.amount}ibc/ED07A3391A112B175915CD8FAF43A2DA8E4790EDE12566649D0C2F97716B8518"))
      case _ => Seq( // IbcSend
        "message" -> Seq("action" -> "/ibc.applications.transfer.v1.MsgTransfer",
          "sender" -> s, "module" -> "transfer"),
        "message" -> Seq("module" -> "ibc_channel"),
        "ibc_transfer" -> Seq("sender" -> s, "receiver" -> s"osmo1${r.drop(6)}"),
        "send_packet" -> Seq("packet_src_port" -> "transfer",
          "packet_src_channel" -> "channel-0", "packet_dst_port" -> "transfer",
          "packet_dst_channel" -> ch),
        "transfer" -> Seq("recipient" -> "akash1escrow", "sender" -> s,
          "amount" -> s"${t.amount}uakt"))
    }
  }

  /** log_attributes rows the tx yields (0 for a malformed log). */
  def logAttributeRows(t: Tx): Int =
    if (t.malformedLog) 0 else events(t).map(_._2.size).sum

  /** Rows of the wide events table: the max repeat of any type_key. */
  def eventRows(t: Tx): Int =
    events(t).flatMap { case (ty, kv) => kv.map(ty + "_" + _._1) }
      .groupBy(identity).values.map(_.size).max

  private def js(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c    => b += c
    }
    (b += '"').toString
  }
  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))

  private def eventsJson(t: Tx, enc: String => String): String =
    events(t).map { case (ty, kv) =>
      kv.map { case (k, v) => s"""{"key":${js(enc(k))},"value":${js(enc(v))}}""" }
        .mkString(s"""{"type":${js(ty)},"attributes":[""", ",", "]}")
    }.mkString("[", ",", "]")

  def txJson(t: Tx): String = {
    val log =
      if (t.malformedLog) s"failed to execute message; message index: 0: out of gas in location: ${t.height}"
      else s"""[{"msg_index":0,"events":${eventsJson(t, identity)}}]"""
    s"""{"hash":"${t.hash}","height":"${t.height}","index":${t.index},"tx_result":{"code":0,""" +
      s""""data":"","log":${js(log)},"info":"","gas_wanted":"${t.gasWanted}",""" +
      s""""gas_used":"${t.gasUsed}","codespace":"","events":${eventsJson(t, b64)}},"tx":"${b64(t.hash)}"}"""
  }

  def blockJson(height: Long): String = {
    val txs = (0 until txCount(height)).map(i => "\"" + b64(tx(height, i).hash) + "\"")
    s"""{"block_id":{"hash":"${f"${Mix.h(seed, 9, height)}%016X"}"},"block":{"header":""" +
      s"""{"version":{"block":"11"},"chain_id":"bench-${seed & 0xffff}","height":"$height",""" +
      s""""time":"${blockTime(height)}","proposer_address":"${f"${Mix.h(seed, 10, height % 97)}%016X"}"},""" +
      s""""data":{"txs":${txs.mkString("[", ",", "]")}}}}"""
  }

  // ---- the RPC surface ----

  private val rangeRe = "height>=(\\d+) AND \\w+\\.height<=(\\d+)".r.unanchored
  private val pageRe = "page=(\\d+)&per_page=(\\d+)".r.unanchored

  /** The node: a `String => String` over RPC URLs. */
  def fetch(url: String): String = {
    val t0 = System.nanoTime()
    FetchCounters.calls.increment()
    try {
      if (pageDelayMicros > 0) LockSupport.parkNanos(pageDelayMicros * 1000L)
      val body = serve(url)
      FetchCounters.rawBytes.add(body.length.toLong)
      body
    } finally FetchCounters.busyNanos.add(System.nanoTime() - t0)
  }

  private def serve(url: String): String = {
    if (url.contains("/abci_info"))
      return s"""{"result":{"response":{"last_block_height":"$tip0"}}}"""
    val (lo, hi) = rangeRe.findFirstMatchIn(url)
      .map(m => (m.group(1).toLong, m.group(2).toLong))
      .getOrElse(throw new IllegalArgumentException(s"no height range in $url"))
    val (page, perPage) = pageRe.findFirstMatchIn(url)
      .map(m => (m.group(1).toInt, m.group(2).toInt))
      .getOrElse(throw new IllegalArgumentException(s"no page in $url"))
    val probe = page == 1 && perPage == 1
    val kind = if (url.contains("/block_search")) "blocks" else "txs"
    val faulty =
      if (probe) flakyHeights.exists { case (k, h) => k == kind && lo <= h && h <= hi }
      else faults && perPage == 100 && page == 2 + Mix.below(3, seed, 13, lo)
    if (faulty && SyntheticChain.firstFetch(url)) {
      FetchCounters.failures.increment()
      throw new RuntimeException(s"transient node error for $url")
    }
    val from = (page - 1).toLong * perPage
    if (url.contains("/block_search")) {
      val total = hi - lo + 1
      val hs = (lo + from) to math.min(hi, lo + from + perPage - 1)
      if (hs.nonEmpty && !probe) FetchCounters.usefulPages.increment()
      s"""{"jsonrpc":"2.0","id":-1,"result":{"blocks":${hs.map(blockJson).mkString("[", ",", "]")},"total_count":"$total"}}"""
    } else {
      val cum = SyntheticChain.prefix(this, lo, hi)
      val total = cum.last
      val items = mutable.ArrayBuffer.empty[String]
      // lower bound: the first index whose running count passes `from`
      var (lo2, hi2) = (1, cum.length)
      while (lo2 < hi2) {
        val mid = (lo2 + hi2) >>> 1
        if (cum(mid) > from) hi2 = mid else lo2 = mid + 1
      }
      var idx = lo2
      var n = from
      while (n < math.min(total, from + perPage) && idx < cum.length) {
        val h = lo + idx - 1
        val base = cum(idx - 1)
        while (n < cum(idx) && n < from + perPage) {
          items += txJson(tx(h, (n - base).toInt))
          n += 1
        }
        idx += 1
      }
      if (items.nonEmpty && !probe) FetchCounters.usefulPages.increment()
      s"""{"jsonrpc":"2.0","id":-1,"result":{"txs":${items.mkString("[", ",", "]")},"total_count":"$total"}}"""
    }
  }

  /** Expected zone contents for heights 1..tip, computed without Spark. */
  def expected(tip: Long): Expected = {
    val gas = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val perDay = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val prefix = new Array[Long](tip.toInt + 1)
    var (txs, la, ev, inN, inA, outN, outA) = (0L, 0L, 0L, 0L, 0L, 0L, 0L)
    var h = 1L
    while (h <= tip) {
      val d = day(h)
      val n = txCount(h)
      var i = 0
      while (i < n) {
        val t = tx(h, i)
        gas(d) += t.gasUsed
        perDay(d) += 1
        la += logAttributeRows(t)
        ev += eventRows(t)
        if (t.kind == TxKind.IbcRecv) { inN += 1; inA += t.amount }
        if (t.kind == TxKind.IbcSend) { outN += 1; outA += t.amount }
        i += 1
      }
      txs += n
      prefix(h.toInt) = txs
      h += 1
    }
    val days = (blockMs(tip) / 86400000L - blockMs(1) / 86400000L + 1).toInt
    Expected(tip, tip, txs, la, ev, days, gas.toMap, perDay.toMap,
      inN, inA, outN, outA, prefix)
  }
}

object SyntheticChain {
  private val seen = ConcurrentHashMap.newKeySet[String]()
  private val prefixes = new ConcurrentHashMap[(SyntheticChain, Long, Long), Array[Long]]()

  /** True the first time `key` is asked about in this JVM. */
  def firstFetch(key: String): Boolean = seen.add(key)

  /** Running tx counts over heights lo..hi: index 0 is 0, index i covers
    * lo..lo+i-1. Cached per range: every page of a chunk reuses it. */
  def prefix(c: SyntheticChain, lo: Long, hi: Long): Array[Long] =
    prefixes.computeIfAbsent((c, lo, hi), _ => {
      val out = new Array[Long]((hi - lo + 2).toInt)
      var i = 1
      while (i < out.length) { out(i) = out(i - 1) + c.txCount(lo + i - 1); i += 1 }
      out
    })

}
