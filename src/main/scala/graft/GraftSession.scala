package graft

import org.apache.spark.sql.SparkSession

/** The one session definition every main and the test suites build from,
  * so the settings their results depend on cannot drift apart. Callers
  * add only their own settings (GraftApp its master and app name, the
  * tests a tmp warehouse dir); `GraftSessionSpec` rejects any other builder.
  */
object GraftSession {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      // TIMESTAMP_NTZ casts go through the session TZ; UTC makes them
      // value-identical to DuckDB's naive read of the same micros
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events.ts is TIMESTAMP(NANOS)
      // Janino class cache sized to the full query inventory (static conf,
      // takes effect because this is the JVM's first session): the default
      // 100 entries thrash under a 200+-plan interleaved sweep — every
      // query re-Janino-compiles every round, and once the JIT code cache
      // saturates those recompiles (and the regenerated methods' re-JIT)
      // run de-optimized — the r15 pipe_jsonata 12.6 s mechanism. Re-sized
      // r17: the 213-query sweep now generates ~3.7k distinct fragments
      // (diag-measured: a 2000-entry cache recompiled ~3.1k fragments in
      // round 2 — full eviction thrash, a broad +5-15% tax on every
      // round); 8000 leaves headroom for round-2 growth.
      .config("spark.sql.codegen.cache.maxEntries", 8000L)
      .config("spark.ui.enabled", "false")
}
