package graft.etl

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** NTRIP caster source-table handling (SURVEY.md §2.1 S2 + §2.2 D14).
  *
  * A caster source table is a text document of `;`-separated rows;
  * station rows start with `STR` and carry mountpoint, format,
  * country, lat/lon, receiver (reference: src/ntripclient.py:359-401,
  * parse + column selection src/ingestion.py:447-515 [1,2,3,8,9,10,13]).
  * The parsed result is the `sourcetable_constants` dimension the
  * dashboard queries broadcast-join against.
  */
object SourceTable {

  /** Parse raw source-table lines into the station-metadata dimension:
    * filter `STR` rows, split on `;`, project the reference's columns. */
  def parse(lines: Dataset[String], casterProvider: String): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines
      .map(_.split(";", -1))
      .filter(a => a.length > 13 && a(0) == "STR")
      .map(a => (a(1), a(2), a(3), a(8), a(9), a(10), a(13), casterProvider))
      .toDF("mountpoint", "identifier", "format", "countrycode",
        "latitude_raw", "longitude_raw", "receiver", "casterprovider")
      .withColumn("latitude", col("latitude_raw").cast("double"))
      .withColumn("longitude", col("longitude_raw").cast("double"))
      .drop("latitude_raw", "longitude_raw")
  }

  /** Duplicate-mountpoint diagnostic across casters
    * (reference: src/ingestion.py:504-515). */
  def duplicateMountpoints(sourcetable: DataFrame): DataFrame =
    sourcetable.groupBy(col("mountpoint"))
      .agg(count(lit(1)).as("n"), collect_set(col("casterprovider")).as("casters"))
      .filter(col("n") > 1)

  /** Deterministic synthetic source-table text (test/replay input). */
  def syntheticLines(nStations: Int): Seq[String] = {
    val header = Seq("SRC;some;caster;header", "CAS;host;2101;Caster;Op;0;DNK;55.0;12.0;")
    val rows = (1 to nStations).map { i =>
      val mnt = f"MNT$i%02d"
      val lat = 54.0 + (i % 40) * 0.1
      val lon = 8.0 + (i % 30) * 0.2
      s"STR;$mnt;City_$i;RTCM 3.2;1074(1),1084(1),1094(1);2;GPS+GLO+GAL;SNET;DNK;$lat;$lon;1;1;Receiver_${i % 5};none;B;N;520;"
    }
    header ++ rows :+ "ENDSOURCETABLE"
  }
}
