package graft

import org.scalatest.funsuite.AnyFunSuite

/** `TimeOne`'s profile keys: one key per kind of Spark-owned job. */
class TimeOneSpec extends AnyFunSuite {
  test("listing and streaming batch jobs fold into one key each; span " +
    "names stay as they are") {
    import graft.tools.TimeOne.keyOf
    assert(keyOf("Listing leaf files and directories for 64 paths:<br/>" +
      "file:/tmp/store/shingle/kb=60, ...") === "spark.listing")
    assert(keyOf("\nid = 167c893a\nrunId = 227f457f\nbatch = 1") ===
      "stream.batch")
    assert(keyOf("s24\nid = 167c893a\nrunId = 227f457f\nbatch = 12") ===
      "stream.batch")
    assert(keyOf("uni.merge.new_edges") === "uni.merge.new_edges")
    assert(keyOf("") === "")
  }
}
