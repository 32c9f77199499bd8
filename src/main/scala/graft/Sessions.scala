package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration and the one work root. Every entry
  * point and every spec opens its session here, so the catalog, the
  * tests and the benchmarks plan under the same settings. */
object Sessions {

  /** `<process working directory>/target`, absolute. sbt's forked
    * `run` and `test` start in the project base directory, so every
    * layout, stream checkpoint and record the engine writes lands in
    * the checkout it runs from. */
  val workDir: String =
    java.nio.file.Paths.get("target").toAbsolutePath.normalize.toString

  /** A local session over `cpus` cores. All specs share one JVM and
    * `getOrCreate` applies a builder's runtime settings to the session
    * that already exists, so a spec that needs another value scopes it
    * around its own body instead of building its own session. */
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // Let AQE coalesce each small shuffle to the advisory partition
    // size instead of preserving `cpus`-way parallelism: with the
    // default (parallelismFirst=true) every tiny exchange fans out
    // into `cpus` near-empty tasks and the run pays pure scheduling
    // — a 20-query mixed probe measured 81 s cold / 47 s warm with
    // the default vs 57/34 with this set (the Spark SQL tuning docs
    // themselves recommend false in production, where the advisory
    // target sizes reducers to the data instead of the core count).
    // Scale-safe by construction: real shuffles exceed the advisory
    // size and coalesce identically either way.
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
