package graft.ingest

import java.nio.file.{Files, Paths}

import graft.SparkSpec

/** The malformed-file taxonomy from the reference's validator branches
  * (`/root/reference/src/transform/transform.py:37-68`,
  * `/root/reference/src/main_1.py:157-212`): valid / extra-column /
  * missing-column / empty / unreadable, plus the type gate and the
  * column-order-drift hazard the positional union would hit.
  */
class CsvBatchReaderSpec extends SparkSpec {

  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "customer_id LONG, price DOUBLE, quantity LONG")
  private val mandatory = schema.fieldNames.toSeq

  private def write(dir: String, name: String, lines: String*): String = {
    val p = Paths.get(dir, name)
    Files.writeString(p, lines.mkString("\n"))
    p.toString
  }

  private def load(files: Seq[String]) =
    CsvBatchReader.validateAndLoad(spark, files, schema)

  test("valid file loads with canonical column order and null additional_column") {
    val d = tmpDir("csv")
    val f = write(d, "ok.csv", "customer_id,price,quantity", "1,9.5,2", "2,1.0,1")
    val r = load(Seq(f))
    assert(r.validFiles == Seq(f))
    val df = r.data.get
    assert(df.columns.toSeq == mandatory :+ CsvBatchReader.AdditionalColumn)
    assert(df.count() == 2)
    assert(df.select(CsvBatchReader.AdditionalColumn).collect().forall(_.isNullAt(0)))
  }

  test("extra columns collapse into additional_column via concat_ws") {
    val d = tmpDir("csv")
    val f = write(d, "extra.csv", "customer_id,price,quantity,coupon,channel", "1,9.5,2,X1,web")
    val r = load(Seq(f))
    val row = r.data.get.collect().head
    assert(row.getAs[String](CsvBatchReader.AdditionalColumn) == "X1, web")
  }

  test("missing mandatory column lands in badSchemaFiles") {
    val d = tmpDir("csv")
    val f = write(d, "noprice.csv", "customer_id,quantity", "1,2")
    val r = load(Seq(f))
    assert(r.badSchemaFiles == Seq(f) && r.data.isEmpty)
  }

  test("header-only file lands in emptyFiles") {
    val d = tmpDir("csv")
    val f = write(d, "empty.csv", "customer_id,price,quantity")
    val r = load(Seq(f))
    assert(r.emptyFiles == Seq(f) && r.data.isEmpty)
  }

  test("unreadable path lands in badSchemaFiles like the reference's broad except") {
    val r = load(Seq("/nonexistent/nowhere.csv"))
    assert(r.badSchemaFiles == Seq("/nonexistent/nowhere.csv"))
  }

  test("column-order drift between files cannot mis-assign values (by-name union)") {
    val d = tmpDir("csv")
    val f1 = write(d, "a.csv", "customer_id,price,quantity", "1,9.5,2")
    val f2 = write(d, "b.csv", "quantity,customer_id,price", "3,7,0.5")
    val rows = load(Seq(f1, f2)).data.get
      .selectExpr("CAST(customer_id AS STRING)", "CAST(price AS STRING)", "CAST(quantity AS STRING)")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(rows.toSeq == Seq(("1", "9.5", "2"), ("7", "0.5", "3")))
  }

  test("mixed batch partitions files into the right buckets and unions the valid ones") {
    val d = tmpDir("csv")
    val ok1 = write(d, "ok1.csv", "customer_id,price,quantity", "1,1.0,1", "2,2.0,2")
    val ok2 = write(d, "ok2.csv", "customer_id,price,quantity", "3,3.0,3")
    val bad = write(d, "bad.csv", "customer_id", "9")
    val empty = write(d, "e.csv", "customer_id,price,quantity")
    val r = load(Seq(ok1, ok2, bad, empty))
    assert(r.validFiles == Seq(ok1, ok2))
    assert(r.badSchemaFiles == Seq(bad))
    assert(r.emptyFiles == Seq(empty))
    assert(r.data.get.count() == 3) // union row count = sum of file row counts
  }

  test("a duplicate-column header is quarantined, not allowed to sink the batch") {
    val d = tmpDir("csv")
    val dup = write(d, "dup.csv", "customer_id,customer_id,price,quantity", "1,1,2.0,3")
    val ok = write(d, "ok.csv", "customer_id,price,quantity", "7,1.5,2")
    val r = load(Seq(dup, ok))
    assert(r.badSchemaFiles == Seq(dup))
    assert(r.validFiles == Seq(ok))
    assert(r.data.get.count() == 1)
  }

  test("quoted header fields parse like Spark's CSV reader would") {
    assert(CsvBatchReader.parseHeader("a,b,c") == Seq("a", "b", "c"))
    assert(CsvBatchReader.parseHeader("\"x,y\",z") == Seq("x,y", "z"))
    assert(CsvBatchReader.parseHeader("\"say \"\"hi\"\"\",b") == Seq("say \"hi\"", "b"))
    assert(CsvBatchReader.parseHeader("one") == Seq("one"))
  }

  test("file-type gate (C3) splits on extension, case-insensitively") {
    val (csv, other) = CsvBatchReader.partitionByExtension(
      Seq("a.csv", "b.CSV", "c.txt", "d.parquet"))
    assert(csv == Seq("a.csv", "b.CSV"))
    assert(other == Seq("c.txt", "d.parquet"))
  }
}
