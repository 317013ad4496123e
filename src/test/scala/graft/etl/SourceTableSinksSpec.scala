package graft.etl

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SourceTableSinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("source-table parse filters STR rows and projects station columns") {
    import spark.implicits._
    val lines = spark.createDataset(SourceTable.syntheticLines(12))
    val st = SourceTable.parse(lines, "casterA")
    assert(st.count() == 12)
    assert(st.columns.toSet == Set("mountpoint", "identifier", "format",
      "countrycode", "receiver", "casterprovider", "latitude", "longitude"))
    val r = st.filter(col("mountpoint") === "MNT01").collect()(0)
    assert(r.getAs[String]("countrycode") == "DNK")
    assert(r.getAs[Double]("latitude") == 54.1)
    assert(st.filter(col("latitude").isNull).count() == 0)
  }

  test("duplicate-mountpoint diagnostic flags cross-caster collisions") {
    import spark.implicits._
    val a = SourceTable.parse(spark.createDataset(SourceTable.syntheticLines(5)), "casterA")
    val b = SourceTable.parse(spark.createDataset(SourceTable.syntheticLines(3)), "casterB")
    val dups = SourceTable.duplicateMountpoints(a.unionByName(b))
    assert(dups.count() == 3) // MNT01..MNT03 appear in both
    assert(dups.filter(col("n") =!= 2).count() == 0)
  }

  test("sink SQL builders generate the reference statement shapes") {
    val ins = Sinks.insertSql("rtcm_packages", Seq("a", "b"), 3)
    assert(ins == "INSERT INTO rtcm_packages (a, b) VALUES (?, ?), (?, ?), (?, ?)")
    val up = Sinks.upsertSql("coordinates",
      Seq("mountpoint", "ecef_x"), Seq("mountpoint"))
    assert(up.contains("ON CONFLICT (mountpoint) DO UPDATE SET ecef_x = EXCLUDED.ecef_x"))
    assert(Sinks.disconnectInsertSql("connection_logger").contains("RETURNING id"))
  }
}
