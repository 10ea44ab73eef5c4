package graft.core

import java.io.{IOException, InputStream}
import java.util.concurrent.ArrayBlockingQueue

/** Bounded producer/consumer pipeline over an InputStream: a background
  * thread drains `in` into fixed-size chunks through a small blocking
  * queue, overlapping upstream work (decompression, remote reads) with
  * downstream consumption (envelope parsing) — the "decompress member
  * i+1 while parsing member i" shape from the r15 verdict, generalized
  * to chunk granularity so it composes with ANY upstream codec.
  *
  * Memory is bounded by construction: `depth` in-flight chunks plus the
  * one being filled (default 4 × 64 KiB). Errors from the producer are
  * captured and re-thrown on the consumer's next read — never swallowed
  * — and `close()` interrupts the producer and joins it, so a consumer
  * abandoning the stream early (LIMIT, task kill) never leaks the
  * thread.
  *
  * Measured and REJECTED as a default decode wrapper (r16, SCALING.md
  * §1):
  * single-stream zstd scan 976 → 673 MB/s (at ~1.1 GB/s decode the
  * per-chunk budget is ~55 µs and the queue handoff + lost cache
  * locality cost more than the overlap saves), 32-way aggregate 0.59×
  * (pure core oversubscription — Spark's task parallelism already
  * fills the host). The zstd full reader needs no overlap anyway: its
  * frame-decode → envelope-parse composition is exact (full−frame gap
  * 1.65 µs/rec vs 1.59 µs/rec pure parse, ratio 1.03 — PROFILE_r16).
  * The class ships for the regime that IS latency-bound: forward
  * streaming over http(s)/object-store inputs (scan option
  * `async_decode`), where upstream stalls are network round-trips, not
  * CPU, and a 4-chunk buffer hides them. That claim is spec-pinned
  * (r17, AsyncDecodeSpec): over a latency-shimmed object-store stream
  * (1 ms per ≤16 KiB read) with a real extraction downstream, the
  * option wins ≥1.5× end-to-end (measured 1.6×, stable min-of-3 —
  * wall drops from round-trips + extraction to max of the two).
  */
final class AsyncChunkInputStream(
    in: InputStream, chunkSize: Int = 64 * 1024, depth: Int = 4)
    extends InputStream {

  private case class Chunk(bytes: Array[Byte], len: Int) // len<0 = EOF
  private val queue = new ArrayBlockingQueue[Chunk](depth)
  @volatile private var error: Throwable = _
  @volatile private var closed = false

  private val producer = new Thread(() => {
    try {
      var eof = false
      while (!eof && !closed) {
        val buf = new Array[Byte](chunkSize)
        var n = 0
        // fill the chunk fully (short reads upstream would otherwise
        // shrink effective queue capacity to the upstream's read size)
        var r = 0
        while (n < chunkSize && r >= 0) {
          r = in.read(buf, n, chunkSize - n)
          if (r > 0) n += r
        }
        if (r < 0) eof = true
        if (n > 0) queue.put(Chunk(buf, n))
      }
      queue.put(Chunk(null, -1))
    } catch {
      case _: InterruptedException => // close() raced us; nothing to report
      case t: Throwable =>
        error = t
        // the marker must be DELIVERED, not offered: with a full queue a
        // best-effort offer loses it and a slow consumer then blocks
        // forever in take(). put() blocks until the consumer drains a
        // slot (it is alive: it will) or close() interrupts us.
        try queue.put(Chunk(null, -1))
        catch { case _: InterruptedException => }
    } finally {
      try in.close() catch { case _: Exception => }
    }
  }, "graft-async-chunk-producer")
  producer.setDaemon(true)
  producer.start()

  private var current: Chunk = _
  private var pos = 0
  private var eofSeen = false

  private def ensureChunk(): Boolean = {
    if (eofSeen) return false
    while (current == null || pos >= current.len) {
      if (current != null && current.len < 0) { eofSeen = true; return false }
      current = queue.take()
      pos = 0
      if (current.len < 0) {
        eofSeen = true
        if (error != null) throw new IOException(error.getMessage, error)
        return false
      }
    }
    true
  }

  override def read(): Int =
    if (!ensureChunk()) -1
    else { val b = current.bytes(pos) & 0xff; pos += 1; b }

  override def read(b: Array[Byte], off: Int, len: Int): Int = {
    if (len == 0) return 0
    if (!ensureChunk()) return -1
    val n = math.min(len, current.len - pos)
    System.arraycopy(current.bytes, pos, b, off, n)
    pos += n
    n
  }

  override def close(): Unit = {
    closed = true
    producer.interrupt()
    // drain so a producer blocked on put() can observe the interrupt
    queue.clear()
    producer.join(10000)
  }
}
