package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.ExportSchema
import graft.sinks.RedshiftSql

/** Type-map totality + statement generation (mirrors the reference's
  * warehouse/redshift_test.go:19-25 checks). */
class WarehouseSqlSpec extends AnyFunSuite {

  test("every canonical field type has a Redshift DDL mapping") {
    ExportSchema.canonical(includeMobile = true).foreach { f =>
      assert(RedshiftSql.ddlType(f.dataType).nonEmpty, f.dbName)
    }
  }

  test("specific type mappings match the reference") {
    import org.apache.spark.sql.types._
    assert(RedshiftSql.ddlType(LongType) == "BIGINT")
    assert(RedshiftSql.ddlType(IntegerType) == "INTEGER")
    assert(RedshiftSql.ddlType(DoubleType) == "FLOAT")
    assert(RedshiftSql.ddlType(TimestampType) == "TIMESTAMP")
  }

  test("qualified names honor the schema/search path") {
    assert(RedshiftSql.qualifiedName(None, "export") == "\"export\"")
    assert(RedshiftSql.qualifiedName(Some("analytics"), "export") ==
      "\"analytics\".\"export\"")
  }

  test("CREATE / ALTER / COPY / DELETE statement shapes") {
    val fields = ExportSchema.baseFields.take(2)
    val create = RedshiftSql.createTable(Some("s"), "export", fields)
    assert(create.startsWith("CREATE TABLE IF NOT EXISTS \"s\".\"export\" ("))
    assert(create.contains("\"IndvId\" BIGINT"))
    val alters = RedshiftSql.addColumns(None, "export",
      ExportSchema.baseFields.slice(2, 4))
    assert(alters.size == 2 && alters.forall(_.startsWith("ALTER TABLE")))
    val copy = RedshiftSql.copyFrom(None, "export", "s3://b/1598486400.csv", "c")
    assert(copy.contains("FORMAT AS CSV IGNOREHEADER 1 ACCEPTINVCHARS"))
    val del = RedshiftSql.deleteOrphans(None, "export", "2020-08-31T00:00:00Z")
    assert(del == "DELETE FROM \"export\" WHERE EventStart >= '2020-08-31T00:00:00Z'")
  }
}
