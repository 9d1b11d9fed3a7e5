package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The artifact-sink guard protocol, in one place. Every corpus-sized
  * artifact sink ([[graft.streaming.EventStreams]]: dedup gold+index,
  * PQ codes, semantic cells, BM25 postings, kNN graph) runs the same
  * three movements per micro-batch:
  *
  *  1. [[prologue]] — if the sync marker is absent where the gate
  *     applies (a batch crashed between its appends and the marker
  *     re-arm), the watermark scalar may be stale: DROP it (the guard
  *     then falls back to the exact anti-join for one batch and
  *     re-derives it), run the store's repair when it has one, and
  *     re-arm the marker only after a successful repair — a repair
  *     crash leaves the marker down, so the next batch repairs again.
  *  2. [[fresh]] — the replay guard: under the family's MONOTONE-id
  *     ingest contract, "already stored" reduces to one scalar (ids
  *     at or below the watermark drop); the store-wide id anti-join
  *     survives only as the post-crash fallback, so the happy path
  *     never reads a store-sized input.
  *  3. [[commit]] — marker DOWN, the batch's writes, watermark,
  *     marker UP. The order is the whole trust protocol: the
  *     watermark commits strictly before the marker re-arms, so a
  *     crash between the two discards it at the next batch — a stale
  *     scalar is never silently trusted.
  *
  * Marker and watermark live at the store's guard ROOT, outside every
  * [[StoreCommit]] version: single small-object writes, atomic on any
  * filesystem scheme, and untouched by the version flips of the
  * store's whole-store replaces (a content-preserving compaction keeps
  * the watermark valid).
  */
object SinkGuard {

  /** Movement 1 — crash handling, gated on the sync marker.
    * `gate`: the condition under which marker absence means "a batch
    * crashed" (usually the store's seeded probe; the lexical sink
    * passes `true` because its recovery also bootstraps adopted
    * stores). `repair`: the store's consistency repair, when derived
    * state exists to repair; the marker re-arms after it so a replay
    * whose batch fully drops does not pay the scan forever. */
  def prologue(guardDir: String, marker: String, gate: Boolean,
      repair: Option[() => Unit] = None): Unit =
    if (gate && !StoreFiles.markerExists(guardDir, marker)) {
      StoreFiles.deleteIdWatermark(guardDir)
      repair.foreach { r =>
        r()
        StoreFiles.createMarker(guardDir, marker)
      }
    }

  /** Movement 2 — the replay guard: watermark scalar on the happy
    * path, exact anti-join against `seenIds` (by-name, evaluated only
    * when needed) on the batch right after a crash. */
  def fresh(batch: DataFrame, guardDir: String, idCol: String,
      seeded: Boolean, seenIds: => DataFrame): DataFrame =
    if (!seeded) batch
    else StoreFiles.readIdWatermark(guardDir) match {
      case Some(wm) => batch.filter(col(idCol) > wm)
      case None => batch.join(seenIds, Seq(idCol), "left_anti")
    }

  /** Movement 3 — the commit epilogue: marker down → `writes` →
    * watermark → marker up. `batchMax` is None for an all-duplicate
    * batch (nothing to advance — the marker still re-arms because the
    * stores are consistent). */
  def commit(guardDir: String, marker: String, batchMax: Option[Long])
      (writes: => Unit): Unit = {
    StoreFiles.deleteMarker(guardDir, marker)
    writes
    batchMax.foreach(StoreFiles.writeIdWatermark(guardDir, _))
    StoreFiles.createMarker(guardDir, marker)
  }

  /** Append ids to the guard root's PERMANENT removed-id log
    * (`_removed/` — an underscore dir, invisible to plain parquet
    * reads of the root). A takedown physically removes ids from the
    * store, which silently re-opens the post-crash anti-join
    * fallback in [[fresh]]: "not in the store" no longer means
    * "never admitted", so a replayed batch could re-admit a removed
    * id. Sinks whose family supports removal union this log into
    * their `seenIds` — removal must never look like novelty. */
  def appendRemovedIds(ids: DataFrame, guardDir: String): Unit =
    ids.write.mode("append").parquet(s"$guardDir/_removed")

  /** The guard root's removed-id log, None when no removal ever ran
    * (one existence probe — the steady-state cost). */
  def removedIds(spark: org.apache.spark.sql.SparkSession,
      guardDir: String): Option[DataFrame] =
    if (StoreFiles.hasTopLevelParquet(s"$guardDir/_removed"))
      Some(spark.read.parquet(s"$guardDir/_removed").distinct())
    else None
}
