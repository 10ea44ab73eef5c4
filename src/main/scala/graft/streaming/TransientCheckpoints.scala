package graft.streaming

import org.apache.spark.sql.SparkSession

/** Scope a streaming drive to run WITHOUT checkpoint file checksums
  * (`spark.sql.streaming.checkpoint.fileChecksum.enabled=false`,
  * restored afterwards).
  *
  * Why: Spark 4.1's `ChecksumCheckpointFileManager` wraps every
  * checkpoint write with a companion checksum file written through a
  * per-manager thread pool — and those pools are not shut down when
  * the query stops. Measured on this engine's gauge drives (6
  * consecutive 32-partition StreamingNeardup drives in one session):
  * ~128 leaked `ChecksumCheckpointFileManager-Thread`s PER QUERY
  * (317 → 1143 total threads and climbing) and ~35% slower drives
  * (3.7-4.0 s vs 2.6-2.8 s without). A long-lived session running
  * many short streaming queries — exactly what Verify/Bench sweeps
  * and a gauge-style service do — degrades without bound.
  *
  * Scope: the checksum protects DURABLE checkpoints against storage
  * corruption across restarts. The gauge queries' checkpoints are
  * per-run scaffolding on tmpfs ([[graft.queries.Scratch.fastFresh]]),
  * worthless after the drive — integrity machinery (and its thread
  * leak) is pure cost there. Production streams owned by library
  * users keep their own session's setting; only the engine's own
  * transient drives opt out, and only for their duration.
  */
object TransientCheckpoints {
  // Both settings are per-DRIVE tuning for transient gauge streams:
  // - checkpoint fileChecksum off (the thread-leak + slowdown above)
  // - expression factoryMode NO_CODEGEN: Structured Streaming re-plans
  //   and re-COMPILES generated code for every micro-batch
  //   (IncrementalExecution); for gauge batches of a few hundred rows
  //   the compile dwarfs the interpreted evaluation it buys. Measured
  //   on the d28 shape (SCALING.md §8): warm drive 2.3-2.6 s →
  //   2.0-2.2 s (per-batch triggerExecution 340-390 → 320-340 ms).
  //   Production streams keep codegen: at real batch sizes the
  //   compile amortizes — this is gauge-drive scoping only.
  // CAVEAT (documented, not guarded): both keys are SESSION-wide
  // runtime conf for the duration of a scope — an unrelated query
  // running CONCURRENTLY on the same SparkSession during a gauge drive
  // would execute interpreted (and skip checkpoint checksums). The
  // depth counter handles nested/overlapping SCOPES, not concurrent
  // non-scoped work; acceptable because Verify/Bench drive gauges
  // single-threaded by contract. If a parallel harness ever shares the
  // session, move these to per-query SQLConf (SQLConf.withExistingConf)
  // or a cloned session.
  private val Keys = Seq(
    "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  // per-session scope depth + the settings saved at the OUTERMOST entry:
  // scoped() mutates session-wide runtime conf, so two overlapping
  // scopes (nested gauges, or a future parallel harness) must restore
  // only when the LAST scope exits — a naive save/restore pair would
  // let the first exit re-enable checksums under the second body, and
  // its saved values would then be restored as if they were the user's
  // settings. Map keyed per session; all state guarded by `lock`.
  private val lock = new Object
  private val depth = new java.util.IdentityHashMap[SparkSession, Integer]
  private val saved =
    new java.util.IdentityHashMap[SparkSession, Seq[(String, Option[String])]]

  def scoped[T](s: SparkSession)(body: => T): T = {
    lock.synchronized {
      val d = Option(depth.get(s)).map(_.intValue).getOrElse(0)
      if (d == 0) {
        saved.put(s, Keys.map { case (k, _) => k -> s.conf.getOption(k) })
        Keys.foreach { case (k, v) => s.conf.set(k, v) }
      }
      depth.put(s, d + 1)
    }
    try body
    finally lock.synchronized {
      val d = depth.get(s).intValue - 1
      if (d == 0) {
        depth.remove(s)
        saved.remove(s).foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      } else depth.put(s, d)
    }
  }
}
