package graft.index

import org.apache.spark.sql.DataFrame

/** Index sink surface (the reference's IndexWriter plugin point,
  * reference/src/java/org/apache/nutch/indexer/IndexWriter.java + the
  * exchanges routing layer): a round's indexed documents fan out to one or
  * more sinks. Writers are Spark sinks, not per-row RPC calls — each write
  * is a distributed job, so a 100 TB index export parallelizes like any
  * other write.
  */
trait IndexWriter extends Serializable {
  def name: String
  /** Write one round's indexed docs (url, host, title, text, score, …). */
  def write(docs: DataFrame, round: Int): Unit
}

/** Parquet directory sink (one dir per round). */
case class ParquetIndexWriter(root: String) extends IndexWriter {
  override def name: String = "parquet"
  override def write(docs: DataFrame, round: Int): Unit =
    docs.write.mode("overwrite").parquet(s"$root/r$round")
}

/** JSON-lines sink — the shape a search indexer's bulk API ingests. */
case class JsonIndexWriter(root: String) extends IndexWriter {
  override def name: String = "json"
  override def write(docs: DataFrame, round: Int): Unit =
    docs.write.mode("overwrite").json(s"$root/r$round")
}

/** CSV sink (header on; arrays/maps must be pre-flattened by the caller). */
case class CsvIndexWriter(root: String) extends IndexWriter {
  override def name: String = "csv"
  override def write(docs: DataFrame, round: Int): Unit =
    docs.write.mode("overwrite").option("header", "true").csv(s"$root/r$round")
}

/** Fan-out to several sinks — the reference's exchange routing, with an
  * optional per-writer predicate (SQL expression over the doc columns). */
case class IndexWriterExchange(routes: Seq[(IndexWriter, Option[String])]) {
  def write(docs: DataFrame, round: Int): Unit = {
    // one upstream materialization, many sinks
    val cached = docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try routes.foreach { case (w, pred) =>
      val slice = pred.fold(cached)(p => cached.filter(
        graft.functions.GraftFunctions.sqlExpr(cached.sparkSession, p)))
      w.write(slice, round)
    } finally cached.unpersist()
  }
}
