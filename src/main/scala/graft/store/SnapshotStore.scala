package graft.store

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The table store: immutable parquet snapshots under an Iceberg-format
  * snapshot log (SURVEY.md §7's named store). Each table keeps
  *
  * {{{
  * <root>/<table>/
  *   r<round>[-tag]/         # immutable parquet snapshot data
  *   r<round>.bin            # blob snapshots (url-seen bloom)
  *   metadata/
  *     v1.metadata.json      # full snapshot log + current-snapshot-id
  *     v2.metadata.json      # one new metadata file per commit (immutable)
  *     version-hint.text     # latest metadata version (catalog discovery)
  * <root>/round_metrics/r<round>-<stage>/   # append-only metrics parquet
  * }}}
  *
  * Commit protocol = Iceberg's optimistic metadata swap on a Hadoop
  * catalog: write the data files, write v(N+1).metadata.json carrying the
  * FULL snapshot log (every prior snapshot stays addressable), then
  * atomically move version-hint.text — a reader always sees a complete
  * metadata version, and resume-from-checkpoint is "read the hinted
  * version, continue from its current snapshot's round". resetTo is
  * Iceberg's rollback: a NEW metadata version whose current-snapshot-id
  * points at the old snapshot, which keeps its own commit time (history is
  * never erased). The temp-file-plus-rename install is the reference
  * CrawlDb's discipline (reference/src/java/org/apache/nutch/crawl/
  * CrawlDb.java:190-219, util/FSUtils.java).
  *
  * The environment ships no Iceberg runtime jars (offline resolver, no
  * extra libraryDependencies), so this is the table format's layout and
  * commit protocol hand-rolled over the parquet files — metadata
  * compatibility in shape, not a catalog client.
  */
class SnapshotStore(val root: String) extends TableStore {
  import SnapshotStore._

  private def tableDir(table: String): Path = Paths.get(root, table)
  private def metaDir(table: String): Path = tableDir(table).resolve("metadata")
  private def hintPath(table: String): Path = metaDir(table).resolve("version-hint.text")

  // ---- metadata read ----

  /** The hinted metadata version and its text; None before the first commit. */
  private def metadata(table: String): Option[(Int, String)] = {
    val p = hintPath(table)
    if (!Files.exists(p)) None
    else {
      val v = Files.readString(p).trim.toInt
      Some((v, Files.readString(metaDir(table).resolve(s"v$v.metadata.json"))))
    }
  }

  private def readLog(table: String): Log = metadata(table).fold(Log(0, Seq.empty, -1L)) {
    case (v, txt) =>
      Log(v, EntryRe.findAllMatchIn(txt).map(entry).toSeq,
        CurrentRe.findFirstMatchIn(txt).get.group(1).toLong)
  }

  // ---- metadata write (Iceberg commit: new immutable version + hint swap) ----

  private def writeVersion(table: String, log: Log): Unit = {
    Files.createDirectories(metaDir(table))
    val json =
      s"""{"format-version":2,"table":"$table","location":"${tableDir(table)}",
         |"current-snapshot-id":${log.currentId},
         |"snapshots":[${log.entries.map(_.json).mkString(",\n")}]}""".stripMargin
    val target = metaDir(table).resolve(s"v${log.version}.metadata.json")
    val tmp = metaDir(table).resolve(s"v${log.version}.metadata.json.tmp")
    Files.writeString(tmp, json, StandardCharsets.UTF_8)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
    val hintTmp = metaDir(table).resolve("version-hint.text.tmp")
    Files.writeString(hintTmp, log.version.toString, StandardCharsets.UTF_8)
    Files.move(hintTmp, hintPath(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Append one snapshot: the rewind guard runs BEFORE `write` puts the
    * data at `path` (a rejected commit must not clobber the immutable
    * snapshot it would have reused), then a new metadata version makes the
    * snapshot current. */
  private def appendSnapshot(table: String, round: Int, tag: String, path: Path, kind: String,
                             allowRewind: Boolean)(write: => Unit): Snapshot = {
    val log = readLog(table)
    log.current.foreach(c => require(round >= c.round || allowRewind,
      s"commit($table, round=$round) would rewind the snapshot log (current round ${c.round}); " +
      "use resetTo + allowRewind for deliberate history replay"))
    write
    val e = Entry(log.entries.map(_.snapshotId).maxOption.getOrElse(0L) + 1, round, tag,
      System.currentTimeMillis(), path.toString, kind)
    writeVersion(table, Log(log.version + 1, log.entries :+ e, e.snapshotId))
    e.snapshot(table)
  }

  // ---- TableStore surface ----

  override def commit(table: String, df: DataFrame, round: Int, tag: String = "",
                      allowRewind: Boolean = false): Snapshot = {
    val path = tableDir(table).resolve(if (tag.isEmpty) s"r$round" else s"r$round-$tag")
    appendSnapshot(table, round, tag, path, "data", allowRewind) {
      df.write.mode("overwrite").parquet(path.toString)
    }
  }

  override def freshTag(table: String, round: Int, prefix: String): String = {
    var i = 1
    while (Files.exists(tableDir(table).resolve(s"r$round-$prefix$i"))) i += 1
    s"$prefix$i"
  }

  /** Parses only the current entry of the hinted version, not the whole log. */
  override def current(table: String): Option[Snapshot] = metadata(table).map { case (_, txt) =>
    val id = CurrentRe.findFirstMatchIn(txt).get.group(1)
    entry(EntryRe.findPrefixMatchOf(txt.substring(txt.indexOf(s"""{"snapshot-id":$id,"""))).get)
      .snapshot(table)
  }

  override def loadRound(spark: SparkSession, table: String, round: Int): Option[DataFrame] = {
    val p = tableDir(table).resolve(s"r$round")
    if (Files.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Iceberg rollback: a NEW metadata version whose current-snapshot-id is
    * the latest untagged data snapshot of `round` — the log keeps
    * everything, and the snapshot keeps its own commit time. */
  override def resetTo(table: String, round: Int): Unit = {
    val log = readLog(table)
    val target = log.entries.filter(e => e.round == round && e.tag.isEmpty && e.kind == "data")
      .maxByOption(_.snapshotId)
      .getOrElse(throw new IllegalArgumentException(s"no snapshot $table/r$round in the log"))
    writeVersion(table, log.copy(version = log.version + 1, currentId = target.snapshotId))
  }

  override def commitBlob(table: String, bytes: Array[Byte], round: Int,
                          allowRewind: Boolean = false): Snapshot = {
    val path = tableDir(table).resolve(s"r$round.bin")
    appendSnapshot(table, round, "", path, "blob", allowRewind) {
      Files.createDirectories(tableDir(table))
      val tmp = tableDir(table).resolve(s"r$round.bin.tmp")
      Files.write(tmp, bytes)
      Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def appendMetrics(df: DataFrame, round: Int, stage: String): Unit =
    df.write.mode("overwrite").parquet(tableDir("round_metrics").resolve(s"r$round-$stage").toString)

  // the round+stage directories as paths: an `r*` glob is probed as a
  // literal file first, which logs a FileNotFoundException stack trace
  override def metrics(spark: SparkSession): Option[DataFrame] = {
    val stages = Option(tableDir("round_metrics").toFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("r")).map(_.getPath).sorted
    if (stages.isEmpty) None else Some(spark.read.parquet(stages: _*))
  }

  /** The full snapshot log of a table (Iceberg's `snapshots` metadata
    * table): snapshot_id, round, tag, committed_at_ms, path, kind. */
  def snapshotLog(table: String): Seq[(Long, Int, String, Long, String, String)] =
    readLog(table).entries.map(e => (e.snapshotId, e.round, e.tag, e.timestampMs, e.path, e.kind))
}

private object SnapshotStore {
  /** One snapshot-log entry; `path` is Iceberg's manifest-list slot. */
  final case class Entry(snapshotId: Long, round: Int, tag: String,
                         timestampMs: Long, path: String, kind: String) {
    def snapshot(table: String): Snapshot = Snapshot(table, round, path, timestampMs)
    def json: String =
      s"""{"snapshot-id":$snapshotId,"round":$round,"tag":"$tag",""" +
      s""""timestamp-ms":$timestampMs,"manifest-list":"$path","kind":"$kind"}"""
  }

  /** One metadata version: its number, the snapshot log and the current id. */
  final case class Log(version: Int, entries: Seq[Entry], currentId: Long) {
    def current: Option[Entry] = entries.find(_.snapshotId == currentId)
  }

  val EntryRe =
    ("""\{"snapshot-id":(\d+),"round":(\d+),"tag":"([^"]*)","timestamp-ms":(\d+),""" +
     """"manifest-list":"([^"]*)","kind":"(data|blob)"\}""").r
  val CurrentRe = """"current-snapshot-id":(\d+)""".r

  def entry(m: scala.util.matching.Regex.Match): Entry =
    Entry(m.group(1).toLong, m.group(2).toInt, m.group(3), m.group(4).toLong, m.group(5), m.group(6))
}
