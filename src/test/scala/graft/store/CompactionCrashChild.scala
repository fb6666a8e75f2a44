package graft.store

import org.apache.spark.sql.SparkSession

/** The child JVM of CompactionRaceSpec's crash test. It builds a store at
  * `args(0)` with two generations (ten puts, a compaction, five more
  * puts), then compacts again and, at the rewrite stage `args(1)`
  * ("written" or "published"), prints `AT <stage> <pid>` and waits to be
  * killed.
  *
  *   graft.store.CompactionCrashChild <store path> <stage>
  */
object CompactionCrashChild {
  def main(args: Array[String]): Unit = {
    val Array(path, stage) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val store = DocumentStore(spark, path)
    (1 to 10).foreach(i => store.put(s"c$i", s"""{"v":$i}"""))
    store.compact()
    (11 to 15).foreach(i => store.put(s"c$i", s"""{"v":$i}"""))
    DocumentStore.rewriteHook = s => if (s == stage) {
      println(s"AT $stage ${ProcessHandle.current.pid}")
      System.out.flush()
      Thread.sleep(Long.MaxValue)
    }
    store.compact()
  }
}
