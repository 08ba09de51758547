package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.schema.ExportSchema
import graft.sinks.DerbySql

/** Type-map totality (mirrors the reference's warehouse/redshift_test.go:19-25
  * check). */
class WarehouseSqlSpec extends AnyFunSuite {

  test("every canonical field type has a Derby DDL mapping") {
    ExportSchema.canonical(includeMobile = true).foreach { f =>
      assert(DerbySql.ddlType(f.dataType).nonEmpty, f.dbName)
    }
  }
}
