package graft.sources

import graft.SparkSpecBase

class CsvSourceSpec extends SparkSpecBase {

  // the ETL gate's reference-shaped CSV trio, generated from the sf0.001
  // fixture: `;` EV listings, a BOM'd electricity file, and a pollution
  // file with its header on line 3
  private lazy val fx = graft.queries.EtlCsvFixture.ensure(spark, Sf0001)

  test("SnakeUpper normalization repairs the reference's drifted EV headers") {
    import HeaderMode.SnakeUpper
    assert(CsvSource.normalize("VEHICLE TYPE", SnakeUpper) == "VEHICLE_TYPE")
    assert(CsvSource.normalize("LISTED PRICE ($AUD)", SnakeUpper) == "LISTED_PRICE")
    assert(CsvSource.normalize("FAST CHARGE TIME (minutes)", SnakeUpper) == "FAST_CHARGE_TIME")
    assert(CsvSource.normalize("RANGE (km)", SnakeUpper) == "RANGE")
    assert(CsvSource.normalize(" SUBURB; ", SnakeUpper) == "SUBURB")
    assert(CsvSource.normalize("﻿FID", SnakeUpper) == "FID")
  }

  test("EV csv reads with normalized headers and all rows") {
    val df = CsvSource(s"$fx/ev", sep = ";",
      headerMode = HeaderMode.SnakeUpper).read(spark)
    assert(df.columns.toSet.intersect(
      Set("VEHICLE_TYPE", "FUEL_TYPE", "MODEL", "LISTED_PRICE", "RANGE", "SUBURB"))
      .size == 6)
    // one listing per `part` row
    assert(df.count() == graft.Tables.part(spark, Sf0001).count())
  }

  test("electricity csv strips the UTF-8 BOM from the first header") {
    val df = CsvSource(s"$fx/electricity", sep = ";",
      headerMode = HeaderMode.Trim).read(spark)
    assert(df.columns.head == "FID")
    assert(df.columns.contains("F2021_22"))
    // one row per `nation` row
    assert(df.count() == graft.Tables.nation(spark, Sf0001).count())
  }

  test("quoted fields with embedded separators parse correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "q.csv")
    java.nio.file.Files.writeString(f.toPath,
      "id;name;note\n1;\"Smith; John\";plain\n2;simple;\"semi;colon\"\n")
    val df = CsvSource(f.getAbsolutePath, sep = ";").read(spark)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.toSet == Set(("1", "Smith; John", "plain"), ("2", "simple", "semi;colon")))
  }

  test("headerLine>0 path also preserves quoted separators") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csv2").toFile
    val f = new java.io.File(dir, "q2.csv")
    java.nio.file.Files.writeString(f.toPath,
      "junk title line\nid,name\n1,\"a, b\"\n")
    val df = CsvSource(f.getAbsolutePath, sep = ",", headerLine = 1).read(spark)
    val rows = df.collect().map(r => (r.getString(0), r.getString(1)))
    assert(rows.toSeq == Seq(("1", "a, b")))
  }

  test("headerLine=2 skips the junk title lines of the pollution csv") {
    val df = CsvSource(s"$fx/pollution.csv", sep = ",",
      headerLine = 2, headerMode = HeaderMode.Trim).read(spark)
    assert(df.columns.head == "Date")
    assert(df.columns.count(_.contains("NO2 annual average")) == 8)
    assert(df.count() == 4) // the four dated rows
  }
}
