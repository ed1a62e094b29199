package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Bench's per-query AQE sizing, which the dev harness reuses: pinned as
  * pure functions of scan bytes, core count and gate name. */
class SessionSpec extends AnyFunSuite {
  import Session.initialFor

  private val mb4 = 4L << 20

  test("initialFor: scan bytes x gate amplification / 4 MB") {
    val bytes = 25 * mb4 // 100 MB scan on 4 cores
    assert(initialFor("q1_pricing_summary", bytes, 4, None) === 25)
    assert(initialFor("g1_triangles", bytes, 4, None) === 400)
    assert(initialFor("d16_dedup_prefix", bytes, 4, None) === 200)
    assert(initialFor("d13_dup_spans", bytes, 4, None) === 200)
    assert(initialFor("p1_curation_e2e", bytes, 4, None) === 100)
    assert(initialFor("p2_crawl_curation", bytes, 4, None) === 100)
    assert(initialFor("no_such_gate", bytes, 4, None) === 25)
    // integer division: 17.5 MB x 8 / 4 MB = 35
    assert(initialFor("d16_dedup_prefix", 35 * mb4 / 8, 4, None) === 35)
  }

  test("initialFor: clamped to [cpus, 512], the core floor applied last") {
    assert(initialFor("q1_pricing_summary", 1L, 32, None) === 32)
    assert(initialFor("g1_triangles", mb4, 32, None) === 32)
    assert(initialFor("g1_triangles", 1000 * mb4, 4, None) === 512)
    assert(initialFor("q1_pricing_summary", 1000 * mb4, 4, None) === 512)
    assert(initialFor("g1_triangles", 1000 * mb4, 600, None) === 600)
  }

  test("initialFor: a pinned value wins for every gate") {
    assert(initialFor("g1_triangles", 1000 * mb4, 4, Some(7)) === 7)
    assert(initialFor("q1_pricing_summary", 1L, 32, Some(7)) === 7)
  }

  test("inputBytes: data files only, hidden and _-prefixed trees skipped") {
    val root = Files.createTempDirectory("graft_sizing_")
    Files.createDirectories(root.resolve("t.parquet/_temporary/0"))
    Files.createDirectories(root.resolve(".spark-staging"))
    Files.write(root.resolve("t.parquet/part-0.parquet"), new Array[Byte](100))
    Files.write(root.resolve("t.parquet/_SUCCESS"), new Array[Byte](7))
    Files.write(root.resolve("t.parquet/.part-0.crc"), new Array[Byte](9))
    Files.write(root.resolve("t.parquet/_temporary/0/part-1.parquet"),
      new Array[Byte](1000))
    Files.write(root.resolve(".spark-staging/x"), new Array[Byte](1000))
    Files.write(root.resolve("u.parquet"), new Array[Byte](20))
    assert(Session.inputBytes(root.toString) === 120L)
    assert(Session.inputBytes(root.resolve("missing").toString) === 0L)
  }
}
