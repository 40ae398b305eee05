package lakebench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{DataQualityConfig, PipelineConfig}
import graft.etl.{BronzeJob, GoldJob, SilverJob}
import graft.incremental.{Incremental, Upsert}
import graft.io.{TableIO, VersionedTable}
import graft.maintenance.Maintenance

/** medallion_etl: the paper's own batch job. Each pass ingests the
  * seeded CSV drop through Bronze -> Silver -> Gold into versioned
  * tables, applies the incremental batches (new days through the
  * watermark filter, late corrections) with MERGE, refreshes Gold, and
  * finishes with compaction and vacuum. A pass writes a fresh lake. */
object Medallion {
  private val Pickup = "tpep_pickup_datetime"

  def run(spark: SparkSession, rec: Recorder, spec: JsonNode,
      seconds: Double): Map[String, Any] = {
    val work = Main.text(spec, "work")
    val raw = Main.text(spec, "raw")
    val batches = Main.texts(spec, "batches")
    def lake(i: Int) = s"$work/lake-$i"
    rec.loop(seconds, prepare = i => deleteTree(lake(i - 1))) { i =>
      pass(spark, rec, PipelineConfig(versionedTables = true,
        dataQuality = DataQualityConfig(failOnDqErrors = false))
        .under(lake(i)), raw, batches)
    }
    Map("tables" -> Seq("bronze", "silver", "gold"))
  }

  private def pass(spark: SparkSession, rec: Recorder, cfg0: PipelineConfig,
      raw: String, batches: Seq[String]): Unit = {
    val cfg = cfg0.copy(paths = cfg0.paths.copy(raw = raw))
    val silver = cfg.paths.silver
    val keys = cfg.dedup.dedupColumns
    rec.call("etl", "bronze", "commit")(BronzeJob.run(spark, cfg))
      .foreach(r => rec.observe("rows" -> r.rowsWritten))
    rec.call("etl", "silver", "commit")(SilverJob.run(spark, cfg))
      .foreach(r => rec.observe("rows_in" -> r.rowsIn, "rows" -> r.rowsAfterDedup))
    rec.call("etl", "gold", "commit")(GoldJob.run(spark, cfg))
    batches.zipWithIndex.foreach { case (dir, b) =>
      rec.call("incremental", "watermark", "read") {
        val wm = new VersionedTable(spark, silver).read().agg(max(col(Pickup))).head().get(0)
        val batch = SilverJob.deduplicate(SilverJob.applyDataQualityFilters(
          SilverJob.castColumns(BronzeJob.addPartitionDate(
            BronzeJob.addMetadata(TableIO.readCsv(spark, dir)), Pickup, "trip_date")),
          cfg), keys)
        (Incremental.filterIncremental(batch, Pickup, Some(wm)),
          batch.filter(col(Pickup) <= lit(wm)))
      }.foreach { case (fresh, late) =>
        // new days land in new partitions; late corrections rewrite the
        // partitions of the rows they correct
        for ((df, op) <- Seq(fresh -> "merge_new", late -> "merge_late"))
          rec.call("incremental", op, "commit")(Upsert.mergeIntoVersionedTable(
            spark, df, silver, keys, partitionBy = Some(Seq("trip_date")),
            assumeStablePartitions = true)).foreach(n => rec.observe("rows_written" -> n, "batch" -> b))
      }
    }
    rec.call("etl", "gold_refresh", "commit")(GoldJob.run(spark, cfg))
      .foreach(r => rec.observe("daily" -> r.dailyKpisRows, "zone" -> r.zoneDemandRows))
    rec.call("maintenance", "compact", "commit")(Maintenance.compact(spark, silver))
      .foreach { case (before, after) => rec.observe("files_before" -> before, "files_after" -> after) }
    rec.call("maintenance", "vacuum", "other")(
      new VersionedTable(spark, silver).vacuum(retainVersions = 1, orphanGraceMs = 0L))
    rec.call("io", "read_silver", "read")(agg(TableIO.readTable(spark, silver),
      count(lit(1)), cents("total_amount"), sum(col("passenger_count")).cast("long")))
      .foreach(v => rec.observe("rows" -> v(0), "revenue_cents" -> v(1), "passengers" -> v(2)))
    rec.call("io", "read_gold", "read")(agg(TableIO.readTable(spark, cfg.paths.goldDailyKpis),
      count(lit(1)), sum(col("daily_trip_count")).cast("long"), cents("daily_total_revenue")))
      .foreach(v => rec.observe("days" -> v(0), "trips" -> v(1), "revenue_cents" -> v(2)))
  }

  /** Sum of a money column in whole cents, exact for checking. */
  def cents(c: String) = sum(round(col(c) * 100).cast("long"))

  def agg(df: DataFrame, cols: org.apache.spark.sql.Column*): Seq[Long] = {
    val r = df.agg(cols.head, cols.tail: _*).head()
    cols.indices.map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue)
  }

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      Option(f.listFiles).foreach(_.foreach(c => deleteTree(c.getPath)))
      f.delete()
    }
  }
}
