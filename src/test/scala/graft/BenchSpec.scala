package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** `Bench.run` over two cheap gates: a full line whose `job_stats` rows
  * all have the schema's width, then a summary line, last, that parses on
  * its own and carries the run's totals. */
class BenchSpec extends SparkSpec {

  test("Bench.run prints a parseable summary line last and one full-width job_stats row per gate") {
    val gates = Set("filter_range", "token_count_bpe")
    val (full, summary) = Bench.run(spark,
      SparkEntry.queries.filter { case (n, _) => gates(n) }, sf("sf0.001"), warmup = false)
    val json = new ObjectMapper()
    val last = json.readTree(summary)
    for (key <- Seq("total_sec", "jobs", "stages", "tasks"))
      assert(last.has(key), s"the summary line lacks $key: $summary")
    assert(last.get("n_queries").asInt == 2 && !last.has("errors"), summary)
    val head = json.readTree(full)
    val width = head.get("job_stats_schema").size
    val rows = gates.map(g => g -> head.get("job_stats").get(g)).toMap
    rows.foreach { case (g, row) =>
      assert(row != null && row.size == width, s"$g's job_stats row: $row")
    }
    assert(rows.values.map(_.get(0).asInt).sum == last.get("jobs").asInt,
      "the summary's jobs are the per-gate jobs summed")
  }
}
