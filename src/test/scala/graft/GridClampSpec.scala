package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.{Analytics, EventTime}

/** The generated grids of q_resample and q_date_spine stay inside their
  * trailing caps ([[EventTime.ResampleMaxHours]],
  * [[Analytics.DateSpineMaxDays]]) when one corrupt 1900-01-01 row sits
  * in the input: without the clamp that row stretches the grid to a
  * century of hours or days. */
class GridClampSpec extends SparkSpec {

  /** sf0.001 `events` and `lineitem`, each with one 1900-01-01 row
    * unioned in (ids from 9,000,001, above any fixture id). */
  private lazy val poisonedDir: String = {
    val dir = Files.createTempDirectory("graft-grid-clamp").toString
    val base = sfDir("sf0.001")
    def poisoned(t: String, idCol: String, tsCol: String)
      (tweak: DataFrame => DataFrame): Unit = {
      val src = spark.read.parquet(s"$base/$t.parquet")
      // nanos-as-long when the fixture is TIMESTAMP(NANOS), else a timestamp
      val ts = src.schema(tsCol).dataType match {
        case LongType => lit(-2208988800L * 1000000000L)
        case dt => lit("1900-01-01 00:00:00").cast(dt)
      }
      val row = tweak(src.orderBy(idCol).limit(1))
        .withColumn(idCol, lit(9000001L)).withColumn(tsCol, ts)
      src.unionByName(row).write.parquet(s"$dir/$t.parquet")
    }
    poisoned("events", "event_id", "ts")(
      _.withColumn("event_type", lit("view")))
    poisoned("lineitem", "l_orderkey", "l_shipdate")(identity)
    dir
  }

  test("q_resample: a 1900-01-01 event clamps the poisoned type's grid to 8761 hours") {
    assert(EventTime.ResampleMaxHours == 8760)
    assert(Tables.events(spark, poisonedDir).agg(year(min(col("ts"))))
      .head().getInt(0) == 1900, "no poison row")
    val hours = EventTime.qResample(spark, poisonedDir)
      .where(col("event_type") === "view").count()
    assert(hours == 8761)
  }

  test("q_date_spine: a 1900-01-01 ship date clamps the spine to 7301 days") {
    assert(Analytics.DateSpineMaxDays == 7300)
    assert(Tables.lineitem(spark, poisonedDir).agg(year(min(col("l_shipdate"))))
      .head().getInt(0) == 1900, "no poison row")
    assert(Analytics.qDateSpine(spark, poisonedDir).count() == 7301)
  }
}
