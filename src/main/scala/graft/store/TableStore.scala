package graft.store

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/** One committed table state: the pointer the engine resumes from. */
case class Snapshot(table: String, round: Int, path: String, committedAtMs: Long)

/** The snapshot-table seam the engine codes against (SURVEY.md §7 named
  * Iceberg or a fallback): immutable per-round parquet snapshots, an
  * atomically-swapped current pointer, retained history (time travel),
  * monotonic rounds with explicit rewind, opaque blobs under the same
  * discipline, and an append-only metrics side table.
  *
  * Two implementations ship:
  *  - [[SnapshotStore]] — parquet + single JSON manifest per table (the
  *    default; minimal, fast, no extra metadata I/O per commit).
  *  - [[IcebergStore]] — the Iceberg table-format metadata shape
  *    (metadata/vN.metadata.json version chain + version-hint.text +
  *    snapshot log), giving real snapshot-log time travel and
  *    catalog-style discovery. (The environment ships no Iceberg runtime
  *    jars, so this is the format's layout and commit protocol hand-rolled
  *    over the same parquet data files — documented, not a runtime
  *    catalog integration.)
  */
trait TableStore extends Serializable {

  def root: String

  /** Atomic commit: write parquet then swap the current pointer.
    * Rounds are MONOTONIC per table (reject rewinds unless `allowRewind` —
    * deliberate history replay after [[resetTo]]). `tag` gives the commit a
    * distinct data directory so a re-commit at the SAME round never
    * overwrites — nor races with a lazy read of — the snapshot it derives
    * from. */
  def commit(table: String, df: DataFrame, round: Int, tag: String = "",
             allowRewind: Boolean = false): Snapshot

  /** A tag not yet used for data dirs at this round (deterministic sequence). */
  def freshTag(table: String, round: Int, prefix: String): String

  /** Current snapshot of a table, if any. */
  def current(table: String): Option[Snapshot]

  def load(spark: SparkSession, table: String): Option[DataFrame] =
    current(table).map(s => spark.read.parquet(s.path))

  /** [[load]] by the table's known row type: the read takes `T`'s schema
    * instead of inferring one from the parquet footers (no inference job). */
  def loadAs[T <: Product: TypeTag](spark: SparkSession, table: String): Option[Dataset[T]] = {
    val enc = Encoders.product[T]
    current(table).map(s => spark.read.schema(enc.schema).parquet(s.path).as(enc))
  }

  /** Read a specific historical round (time travel). */
  def loadRound(spark: SparkSession, table: String, round: Int): Option[DataFrame]

  /** Last committed round of the frontier = the resume checkpoint. */
  def lastCompletedRound: Option[Int] = current("frontier").map(_.round)

  /** Point the current pointer back at an existing historical round (time
    * travel as state reset — snapshot data is immutable, only the pointer
    * moves). */
  def resetTo(table: String, round: Int): Unit

  /** Commit an opaque binary artifact (e.g. the URL-seen bloom) under the
    * same pointer discipline. */
  def commitBlob(table: String, bytes: Array[Byte], round: Int,
                 allowRewind: Boolean = false): Snapshot

  def loadBlob(table: String): Option[Array[Byte]] =
    current(table).map(s => java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(s.path)))

  /** Append-only metrics table (one parquet dir per round+stage). */
  def appendMetrics(df: DataFrame, round: Int, stage: String): Unit

  def metrics(spark: SparkSession): Option[DataFrame]
}
