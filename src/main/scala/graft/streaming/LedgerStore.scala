package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import graft.core.ChunkMeta

/** Write-ahead ledger for delivery-chunk METADATA and acks.
  *
  * Closes the at-least-once gap across process restarts: the streaming
  * checkpoint marks a micro-batch COMMITTED as soon as foreachBatch
  * returns, so without a durable ledger a crash between delivery and
  * client ack would lose the chunk (the restarted query will not re-read
  * the batch). The reference gets this durability from JetStream's
  * consumer state; here it is an append-only JSONL log replayed on
  * startup — driver-side single-writer state, exactly the scale of the
  * reference's in-server ack map, but persistent.
  *
  * The WAL holds ONLY [[ChunkMeta]] (ids, batch, row count, ack state);
  * chunk payloads are durable in the partitioned [[DeliveryTable]]
  * parquet the executors wrote — so WAL size is O(chunks), independent
  * of event volume.
  *
  * Record format (one JSON object per line):
  *   {"t":"chunk","g":...,"c":...,"b":N,"n":N,"at":N}
  *   {"t":"ack","g":...,"c":...}
  *   {"t":"wm","g":...,"w":N}
  *   {"t":"offer","g":...,"c":...,"s":N,"at":N,"d":N}
  *   {"t":"drop","g":...,"f":N}
  */
final class LedgerStore(dir: String) {
  private val path: Path = Paths.get(dir, "ledger.jsonl")
  Files.createDirectories(path.getParent)

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def append(line: String): Unit = synchronized {
    Files.write(path, (line + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  private def chunkLine(c: ChunkMeta): String =
    s"""{"t":"chunk","g":"${esc(c.groupId)}","c":"${esc(c.chunkId)}","b":${c.batchId},""" +
      s""""n":${c.rows},"at":${c.deliveredAt.getTime}}"""

  private def ackLine(groupId: String, chunkId: String): String =
    s"""{"t":"ack","g":"${esc(groupId)}","c":"${esc(chunkId)}"}"""

  def appendChunk(c: ChunkMeta): Unit = append(chunkLine(c))

  def appendAck(groupId: String, chunkId: String): Unit =
    append(ackLine(groupId, chunkId))

  /** Watermark record: every chunk of `g` with batchId ≤ `w` is acked
    * (or never existed). Written by [[compact]] in place of the acked
    * chunk+ack line pairs it swallows — the WAL-side half of the
    * [[ChunkLedger]] acked-history eviction: after compaction both the
    * WAL and driver memory are O(pending + groups), not O(all-time
    * chunks). */
  private def wmLine(groupId: String, w: Long): String =
    s"""{"t":"wm","g":"${esc(groupId)}","w":$w}"""

  private def offerLine(groupId: String, chunkId: String, sessionId: Long,
                        offeredAt: Long, deliveries: Int): String =
    s"""{"t":"offer","g":"${esc(groupId)}","c":"${esc(chunkId)}","s":$sessionId,""" +
      s""""at":$offeredAt,"d":$deliveries}"""

  /** Journal an offer (chunk → session flight). Replaying these is what
    * keeps the redelivery TIMER state — offeredAt and the monotone
    * JetStream-style delivery count — across a process restart. */
  def appendOffer(groupId: String, chunkId: String, sessionId: Long,
                  offeredAt: Long, deliveries: Int): Unit =
    append(offerLine(groupId, chunkId, sessionId, offeredAt, deliveries))

  /** Drop record: group `g` was removed. Replay forgets every earlier
    * line of `g` (chunks, acks, watermark, flights); `f` is its history
    * floor, the highest batch seq that may hold its payload rows. The
    * floor also keeps the chunk-sequence epoch: forgetting the group's
    * lines must not lower the ledger's maxBatchId. */
  private def dropLine(groupId: String, floor: Long): String =
    s"""{"t":"drop","g":"${esc(groupId)}","f":$floor}"""

  def appendDrop(groupId: String, floor: Long): Unit =
    append(dropLine(groupId, floor))

  /** Replay the WAL into the in-memory state. An ack flips its chunk;
    * a re-appended chunk (micro-batch retry / foreachBatch replay after
    * restart) is idempotent by (groupId, chunkId) AND ack-preserving:
    * the chunk→ack→chunk sequence keeps acked=true — a client that
    * already acked must not see the chunk re-served as pending. */
  def load(): Map[(String, String), ChunkMeta] = loadState()._1

  /** Full replay: (chunk metas, per-group watermarks). A chunk line at
    * or below its group's watermark-so-far replays as acked (compaction
    * writes watermarks first; a post-crash foreachBatch replay can only
    * re-append chunks the mint guard let through). */
  def loadState(): (Map[(String, String), ChunkMeta], Map[String, Long]) = {
    val r = replay()
    (r.metas, r.wms.toMap)
  }

  /** Latest journaled flight per (groupId, chunkId):
    * (sessionId, offeredAt, deliveries). A later ack settles its
    * flight (drops out); WAL replay feeds these to
    * [[ChunkDispatcher.restore]]. */
  def loadFlights(): Map[(String, String), (Long, Long, Int)] = replay().flightsByChunk

  /** History floor per removed group (see [[appendDrop]]). */
  def loadFloors(): Map[String, Long] = replay().floors.toMap

  /** Replayed WAL state, kept per group so a drop forgets its group in
    * O(1). */
  private[streaming] final class Replay {
    type Per[V] = scala.collection.mutable.Map[String, scala.collection.mutable.Map[String, V]]
    val chunks: Per[ChunkMeta] = scala.collection.mutable.Map()
    val flights: Per[(Long, Long, Int)] = scala.collection.mutable.Map()
    val wms = scala.collection.mutable.Map[String, Long]()
    val floors = scala.collection.mutable.Map[String, Long]()
    def of[V](m: Per[V], g: String) = m.getOrElseUpdate(g, scala.collection.mutable.Map())
    def metas: Map[(String, String), ChunkMeta] =
      chunks.flatMap { case (g, cs) => cs.map { case (c, m) => (g, c) -> m } }.toMap
    def flightsByChunk: Map[(String, String), (Long, Long, Int)] =
      flights.flatMap { case (g, fs) => fs.map { case (c, f) => (g, c) -> f } }.toMap
  }

  /** One pass over the WAL: the state every load above reads. */
  private[streaming] def replay(): Replay = {
    val r = new Replay
    if (Files.exists(path)) Files.readAllLines(path, StandardCharsets.UTF_8).asScala.foreach { line =>
      field(line, "t") match {
        case Some("chunk") =>
          for (g <- field(line, "g"); c <- field(line, "c"); b <- field(line, "b")) {
            val cs = r.of(r.chunks, g)
            val acked = cs.get(c).exists(_.acked) ||
              b.toLong <= r.wms.getOrElse(g, Long.MinValue)
            cs.put(c, ChunkMeta(g, c, b.toLong,
              field(line, "n").map(_.toLong).getOrElse(0L),
              new Timestamp(field(line, "at").map(_.toLong).getOrElse(0L)),
              acked))
          }
        case Some("ack") =>
          for (g <- field(line, "g"); c <- field(line, "c")) {
            r.chunks.get(g).foreach(cs => cs.get(c).foreach(m => cs.put(c, m.copy(acked = true))))
            r.flights.get(g).foreach(_.remove(c))
          }
        case Some("wm") =>
          for (g <- field(line, "g"); w <- field(line, "w"))
            r.wms.put(g, math.max(r.wms.getOrElse(g, Long.MinValue), w.toLong))
        case Some("offer") =>
          for (g <- field(line, "g"); c <- field(line, "c"))
            r.of(r.flights, g).put(c, (
              field(line, "s").map(_.toLong).getOrElse(0L),
              field(line, "at").map(_.toLong).getOrElse(0L),
              field(line, "d").map(_.toInt).getOrElse(1)))
        case Some("drop") =>
          for (g <- field(line, "g"); f <- field(line, "f")) {
            r.chunks.remove(g); r.flights.remove(g); r.wms.remove(g)
            r.floors.put(g, math.max(r.floors.getOrElse(g, Long.MinValue), f.toLong))
          }
        case _ => ()
      }
    }
    r
  }

  /** Rewrite the WAL to the minimal lines reproducing current state:
    * per removed group its drop record (history floor and epoch), then
    * per group a WATERMARK line covering the acked prefix, then one
    * chunk record per surviving (above-watermark) chunk, an ack record
    * for the acked ones among them, and the LATEST offer record for
    * each pending flight (redelivery timer + delivery count).
    * Append-only logs otherwise grow with every micro-batch retry,
    * offer, and ack forever; compaction is the same hygiene the event
    * log gets from compactTo.
    *
    * Acked chunks below the watermark are DROPPED — the watermark line
    * carries the replay-idempotence information their keys used to
    * (`batchId ≤ wm ⇒ acked`, see [[loadState]]), so a later
    * foreachBatch replay still cannot resurrect them, while the WAL
    * stops growing with all-time history: post-compaction size is
    * O(pending + groups), matching the in-memory [[ChunkLedger]] bound.
    * Drop records come first: each forgets nothing but the lines of a
    * removed incarnation, which compaction already left out.
    * Atomic: write to a temp file, then move over the live WAL. */
  def compact(): Unit = synchronized {
    val r = replay()
    val state = r.chunks.values.flatMap(_.values)
    val wms = r.wms
    state.groupBy(_.groupId).foreach { case (g, cs) =>
      val unacked = cs.filter(!_.acked)
      val w = if (unacked.isEmpty) cs.map(_.batchId).max
              else unacked.map(_.batchId).min - 1
      wms.put(g, math.max(wms.getOrElse(g, Long.MinValue), w)); ()
    }
    val tmp = path.resolveSibling(path.getFileName.toString + ".compact")
    val sb = new StringBuilder
    r.floors.toSeq.sortBy(_._1).foreach { case (g, f) => sb.append(dropLine(g, f)).append('\n') }
    wms.toSeq.sortBy(_._1).foreach { case (g, w) =>
      if (w > Long.MinValue) sb.append(wmLine(g, w)).append('\n')
    }
    state.toSeq.sortBy(c => (c.groupId, c.batchId, c.chunkId)).foreach { c =>
      if (c.batchId > wms.getOrElse(c.groupId, Long.MinValue)) {
        sb.append(chunkLine(c)).append('\n')
        if (c.acked) sb.append(ackLine(c.groupId, c.chunkId)).append('\n')
        else r.flights.get(c.groupId).flatMap(_.get(c.chunkId)).foreach { case (s, at, d) =>
          sb.append(offerLine(c.groupId, c.chunkId, s, at, d)).append('\n')
        }
      }
    }
    Files.writeString(tmp, sb.toString, StandardCharsets.UTF_8)
    Files.move(tmp, path, java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  // -- minimal single-purpose JSONL parsing (format is ours; no deps) --
  private def field(line: String, name: String): Option[String] = {
    val k = "\"" + name + "\":"
    val i = line.indexOf(k)
    if (i < 0) return None
    val rest = line.substring(i + k.length)
    if (rest.startsWith("\"")) {
      val sb = new StringBuilder
      var j = 1
      while (j < rest.length && rest(j) != '"') {
        if (rest(j) == '\\' && j + 1 < rest.length) {
          rest(j + 1) match {
            case 'n' => sb.append('\n'); case 'r' => sb.append('\r')
            case 'u' => sb.append(Integer.parseInt(rest.substring(j + 2, j + 6), 16).toChar); j += 4
            case c => sb.append(c)
          }
          j += 2
        } else { sb.append(rest(j)); j += 1 }
      }
      Some(sb.toString)
    } else Some(rest.takeWhile(c => c != ',' && c != '}'))
  }
}
