package graft

import org.apache.spark.sql.SparkSession

/** The one place the engine's Spark session is configured. Bench, Verify,
  * Explain, the dev tools and the test suite all start from `builder`, so
  * every entry point plans and times the same queries the same way; each
  * caller adds only its own app name, directories and log level.
  */
object GraftSession {

  /** Settings that do not depend on the core count. */
  private[graft] val Fixed: Seq[(String, String)] = Seq(
    // the suite's timestamps are UTC instants; the oracle compares their
    // face values
    "spark.sql.session.timeZone" -> "UTC",
    // Spark 4's default, pinned: the coalesce floor below is an AQE setting
    "spark.sql.adaptive.enabled" -> "true",
    // local runs have no one to read a web UI; it costs a port per session
    "spark.ui.enabled" -> "false",
    // Spark's generated-class cache holds 100 entries (LRU); a 300+-query
    // suite cycling through it misses on every execution and pays Janino
    // compilation each time. Compiled classes cost ~50 KB of metaspace each.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // AQE's coalesce floor defaults to 1 MB, which packs this suite's
    // kilobyte-sized, CPU-heavy post-shuffle stages (sorted-intersect,
    // banded Hamming, cosine reranks) onto 1-3 cores. At 8k the
    // parallelism term wins whenever bytes per core are tiny; at
    // production scale bytes per partition dwarf the floor and it is inert.
    // Measured in OPTIMIZATION_r15.md §3.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "8k")

  /** A local session builder on `cpus` cores with the engine's extensions
    * (the FuseDotProduct rule changes plan shape) and one shuffle partition
    * per core. */
  def builder(cpus: Int): SparkSession.Builder =
    Fixed.foldLeft(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .withExtensions(new functions.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cpus.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
