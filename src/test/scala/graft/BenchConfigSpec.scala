package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The bench's promotion guard: a quiet run may replace the committed
  * record only when that record was taken with the same cpus and scale
  * factor — and when the record cannot be read, the guard must refuse. */
class BenchConfigSpec extends AnyFunSuite {

  private def record(text: String): java.nio.file.Path = {
    val p = Files.createTempFile("bench-record", ".json")
    Files.write(p, text.getBytes("UTF-8"))
    p
  }

  test("record config guard: matches, mismatches, missing record") {
    val rec = record("""{"metric":"total_s","cpus":8,"sf":"/data/sf0.1","total":61.3}""")
    assert(Bench.recordConfigMatches(rec, "8", "/data/sf0.1"))
    assert(!Bench.recordConfigMatches(rec, "32", "/data/sf0.1"))
    assert(!Bench.recordConfigMatches(rec, "8", "/data/sf1"))
    // a legacy record without the fields is upgradeable
    assert(Bench.recordConfigMatches(record("""{"total":61.3}"""), "8", "/data/sf0.1"))
    val absent = Files.createTempDirectory("bench-none").resolve("bench_result.json")
    assert(Bench.recordConfigMatches(absent, "8", "/data/sf0.1"))
  }

  test("record config guard fails closed when the record cannot be read") {
    // a directory where the record should be: exists, but reading it throws
    val unreadable = Files.createTempDirectory("bench-record-dir")
    assert(!Bench.recordConfigMatches(unreadable, "8", "/data/sf0.1"))
  }
}
